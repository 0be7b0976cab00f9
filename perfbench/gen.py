"""Seeded input generators for the pipeline benchmark, and the
generator-side models that supply the expected answers.

Everything here is a pure function of the seed: the same seed gives
byte-identical files, a different seed gives different ones
(tests/test_pure.py checks both).

Four input families:
  * a TPC-H-shaped star schema (region/nation/customer/supplier/part/
    orders/lineitem plus tiny events/documents/embeddings tables, because
    `graft.Tables.registerAll` registers all ten names) for the views;
  * full-size events/documents/embeddings tables for the operator deck;
  * RenewalList-shaped CSV uploads (the 117-column `renewals_bq.json`
    schema) with Excel `="..."` artifacts in the key columns, empty
    cells, unparseable expiry dates and occasional poisoned uploads;
  * lineitem staging batches with corrected prices over overlapping
    shipdate windows, for the whole-table `Merge.updateTable` path.
"""
import datetime as dt
import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = 2400          # order dates span 1995-01-01 .. ~2001-07
SHIP_LAG = 120             # shipdate = orderdate + 1..SHIP_LAG days
KEY_COLS = ("PolicyNumber", "AgencyNumber", "RegNumber")
MODEL_SUM_COLS = ("CommissionAmt", "AmountDue")


def rng_for(seed, *path):
    """Independent stream per (seed, purpose) so adding one input family
    never shifts the bytes of another."""
    return np.random.default_rng([int(seed) % (1 << 63)] + [sum(map(ord, p)) for p in path])


def day_to_ts(days):
    return (np.datetime64(DAY0, "D") + np.asarray(days, dtype="int64")
            ).astype("datetime64[us]")


# ---------------------------------------------------------------- tables

def star_tables(seed, sf):
    """TPC-H-shaped tables at scale `sf` (sf=0.1 ~ 600k lineitem rows).
    (l_orderkey, l_linenumber) is unique, so the views' total order
    (EntryDateTime, PolicyNumber, LineNumber, ...) has no ties and every
    Id is deterministic. A few foreign keys miss their dimension row so
    the LEFT-join + COALESCE default paths run."""
    r = rng_for(seed, "star")
    n_orders = int(1_500_000 * sf)
    n_cust = max(200, int(150_000 * sf))
    n_supp = max(200, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": [f"REGION_{i}" for i in range(5)]})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype="int32")),
        "c_acctbal": pa.array(r.integers(-99_999, 999_999, n_cust) / 100.0),
        "c_mktsegment": pa.array(segs[r.integers(0, 5, n_cust)])})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        # nation 25 does not exist: the chained nation/region joins miss
        "s_nationkey": pa.array(r.integers(0, 26, n_supp, dtype="int32")),
        "s_acctbal": pa.array(r.integers(-99_999, 999_999, n_supp) / 100.0)})
    brands = np.array([f"Brand#{i}" for i in range(1, 26)], dtype=object)
    brand = brands[r.integers(0, 25, n_part)]
    brand[r.random(n_part) < 0.02] = None
    words = np.array(["red", "blue", "small", "large", "ring", "widget",
                      "bolt", "steel", "brass", "polished"])
    w = r.integers(0, len(words), (n_part, 2))
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array(np.char.add(np.char.add(words[w[:, 0]], " "),
                                       words[w[:, 1]])),
        "p_brand": pa.array(brand, type=pa.string()),
        "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "PROMO"])[
            r.integers(0, 3, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype="int32")),
        "p_retailprice": pa.array(r.integers(90_000, 200_000, n_part) / 100.0)})

    odays = r.integers(0, ORDER_DAYS, n_orders)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        # ~1% of orders name a customer that does not exist
        "o_custkey": pa.array(r.integers(0, int(n_cust * 1.01), n_orders)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[
            r.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(r.integers(100_000, 50_000_000, n_orders)
                                 / 100.0),
        "o_orderdate": pa.array(day_to_ts(odays)),
        "o_orderpriority": pa.array(prios[r.integers(0, 5, n_orders)])})

    nlines = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype="int64"), nlines)
    starts = np.cumsum(nlines) - nlines
    lineno = (np.arange(len(okey)) - np.repeat(starts, nlines) + 1)
    n_li = len(okey)
    ship = np.repeat(odays, nlines) + r.integers(1, SHIP_LAG + 1, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(0, n_part, n_li)),
        # ~1% of lines name a supplier that does not exist
        "l_suppkey": pa.array(r.integers(0, int(n_supp * 1.01), n_li)),
        "l_linenumber": pa.array(lineno.astype("int32")),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(r.integers(90_000, 10_000_000, n_li)
                                    / 100.0),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(day_to_ts(ship))})

    n_ev = 200
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array((np.datetime64("2024-01-01T00:00:00", "us")
                        + r.integers(0, 86_400, n_ev) * 1_000_000)),
        "user_id": pa.array(r.integers(0, 20, n_ev)),
        "event_type": pa.array(np.array(["view", "click", "purchase"])[
            r.integers(0, 3, n_ev)]),
        "value": pa.array(r.integers(0, 10_000, n_ev) / 100.0),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)]})
    documents = pa.table({
        "doc_id": pa.array(np.arange(20, dtype="int64")),
        "text": [f"document {i} text" for i in range(20)],
        "lang": ["en"] * 20, "source": ["web"] * 20,
        "n_chars": pa.array(np.full(20, 16, dtype="int64"))})
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(20, dtype="int64")),
        "embedding": pa.array([r.random(4).astype("float32").tolist()
                               for _ in range(20)],
                              type=pa.list_(pa.float32())),
        "label": pa.array(np.zeros(20, dtype="int32"))})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events, "documents": documents,
            "embeddings": embeddings}


DOC_WORDS = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
             "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
             "window", "data", "column", "order", "join", "small", "big",
             "customer", "query", "group", "filter", "stream", "vector")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def corpus_tables(seed, n_docs, n_vecs, n_events):
    """events/documents/embeddings in the shapes the operator, ext and
    multimodal queries read (the repository's TESTDATA.md tables):
    documents of 8..90 words from a 30-word vocabulary, one in ten a
    near-duplicate of an earlier document (a few words changed and a
    trailing "dup"); 64-dim embeddings in [-0.5, 0.5) with labels 0..9;
    a month of events over 150 users and five event types."""
    r = rng_for(seed, "corpus")
    words = np.array(DOC_WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i >= 10 and r.random() < 0.1:
            w = texts[int(r.integers(0, i))].split(" ")
            for k in r.integers(0, len(w), 2):
                w[k] = words[r.integers(0, len(words))]
            texts.append(" ".join(w + ["dup"]))
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(8, 91)))]))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": texts,
        "lang": pa.array(np.array(LANGS, dtype=object)[r.integers(0, len(LANGS), n_docs)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))})
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": pa.array(list((r.random((n_vecs, 64)) - 0.5).astype("float32")),
                              type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs, dtype="int32"))})
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype="int64")),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts),
        "user_id": pa.array(r.integers(0, 150, n_events)),
        "event_type": pa.array(np.array(["view", "click", "purchase", "signup", "error"],
                                        dtype=object)[r.integers(0, 5, n_events)]),
        "value": pa.array(r.integers(1, 49_003, n_events) / 100.0),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_events)]})
    return {"events": events, "documents": documents, "embeddings": embeddings}


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


# ------------------------------------------------- update_refresh batches

def staging_batches(seed, lineitem, n_cycles, window_days=(45, 90)):
    """Pre-generated lineitem staging batches for the whole-table merge.
    Batch k re-delivers every row of the current table with shipdate on
    or after its cutoff, ~30% with corrected prices, ~1% dropped and ~1%
    new lines; cutoffs wander inside the last ~120 days so consecutive
    windows overlap. Returns (batches, states): states[k] is the model
    table after batch k (numpy columns), i.e. the cutoff-merge answer."""
    r = rng_for(seed, "staging")
    cols = {c: lineitem.column(c).to_numpy() for c in lineitem.column_names}
    cols["l_shipdate"] = cols["l_shipdate"].astype("datetime64[us]")
    last = cols["l_shipdate"].max()
    next_key = int(cols["l_orderkey"].max()) + 1
    n_part = int(cols["l_partkey"].max()) + 1
    batches, states = [], []
    state = cols
    for _ in range(n_cycles):
        back = int(r.integers(window_days[0], window_days[1] + 1))
        cutoff = last - np.timedelta64(back, "D")
        win = state["l_shipdate"] >= cutoff
        stg = {c: v[win].copy() for c, v in state.items()}
        n = len(stg["l_orderkey"])
        fix = r.random(n) < 0.30
        cents = np.round(stg["l_extendedprice"] * 100).astype("int64")
        cents[fix] += r.integers(-500, 501, int(fix.sum()))
        stg["l_extendedprice"] = np.maximum(cents, 1) / 100.0
        keep = r.random(n) >= 0.01
        # the window's earliest row always stays, so every dropped row lies
        # on/after the batch's MIN date (the merge's cutoff) and the merge
        # deletes it
        keep[np.argmin(stg["l_shipdate"])] = True
        stg = {c: v[keep] for c, v in stg.items()}
        n_new = max(1, n // 100)
        new = {
            "l_orderkey": np.arange(next_key, next_key + n_new, dtype="int64"),
            "l_partkey": r.integers(0, n_part, n_new),
            "l_suppkey": r.integers(0, int(cols["l_suppkey"].max()) + 1, n_new),
            "l_linenumber": np.ones(n_new, dtype="int32"),
            "l_quantity": r.integers(1, 51, n_new).astype("float64"),
            "l_extendedprice": r.integers(90_000, 10_000_000, n_new) / 100.0,
            "l_discount": r.integers(0, 11, n_new) / 100.0,
            "l_tax": r.integers(0, 9, n_new) / 100.0,
            "l_returnflag": np.array(["N"] * n_new, dtype=object),
            "l_linestatus": np.array(["O"] * n_new, dtype=object),
            "l_shipdate": cutoff + r.integers(0, back + 1, n_new).astype(
                "timedelta64[D]")}
        next_key += n_new
        stg = {c: np.concatenate([stg[c], new[c].astype(stg[c].dtype)])
               for c in stg}
        batches.append(pa.table({c: pa.array(stg[c]) for c in
                                 lineitem.column_names}))
        # Merge takes MIN(staging date) as the cutoff; every current row
        # on/after it lies inside the window, so it is replaced
        below = state["l_shipdate"] < stg["l_shipdate"].min()
        state = {c: np.concatenate([state[c][below], stg[c]]) for c in state}
        states.append(state)
    return batches, states


def lineitem_model(state, n_top=10):
    """Expected answers over one table state: per-month (count, price
    cents) and the ten highest-Id TRANSACTIONS rows. Ids follow the
    views' total order (shipdate, orderkey, linenumber); uniqueness of
    (orderkey, linenumber) makes the tail of that order the top ten."""
    ship = state["l_shipdate"]
    months, inv = np.unique(ship.astype("datetime64[M]").astype(str),
                            return_inverse=True)
    cents = np.round(state["l_extendedprice"] * 100).astype("int64")
    cnt = np.bincount(inv, minlength=len(months))
    sums = np.zeros(len(months), dtype="int64")
    np.add.at(sums, inv, cents)
    per_month = {m: [int(c), int(s)] for m, c, s in zip(months, cnt, sums)}
    order = np.lexsort((state["l_linenumber"], state["l_orderkey"], ship))
    n = len(order)
    top = [[int(state["l_orderkey"][i]), int(state["l_linenumber"][i]),
            int(cents[i]), n - k]
           for k, i in enumerate(order[::-1][:n_top])]
    return {"per_month": per_month, "top10": top}


# -------------------------------------------------------- renewal uploads

def load_fields():
    with open(os.path.join(HERE, "renewals_bq.json")) as f:
        return [(d["name"], d["type"].upper()) for d in json.load(f)]


def _iso(days):
    return [(DAY0 + dt.timedelta(days=int(d))).isoformat() for d in days]


@functools.lru_cache(maxsize=None)
def _vocab(prefix, n):
    return np.array([f"{prefix}{i}" for i in range(n)], dtype=object)


@functools.lru_cache(maxsize=None)
def _iso_days():
    return np.array(_iso(range(4000)), dtype=object)


CENT_STEP = 7


@functools.lru_cache(maxsize=None)
def _cents_text():
    return np.array([f"{c // 100}.{c % 100:02d}" for c in range(0, 500_000, CENT_STEP)],
                    dtype=object)


def _renewal_csv(r, fields, n, day_lo, day_hi, poisoned):
    """One RenewalList CSV; returns (bytes, model rows, expiry days).
    Model rows are (yyyy-MM, {sum col: cents or None}) for every row
    that must survive cleaning (a parseable PolicyExpiryDate)."""
    iso, cents_vocab = _iso_days(), _cents_text()
    cols, model_cols = [], {}
    exp_days = r.integers(day_lo, day_hi + 1, n)
    bad_date = np.ones(n, bool) if poisoned else (r.random(n) < 0.03)
    for name, typ in fields:
        empty = r.random(n) < 0.05
        if name == "PolicyExpiryDate":
            v = iso[exp_days]
            v[bad_date] = np.array(["2021-02-30", "N/A", "13/45/2020"],
                                   dtype=object)[r.integers(0, 3, int(bad_date.sum()))]
        elif typ == "STRING":
            v = _vocab(name[:3].upper(), 5000)[r.integers(0, 5000, n)]
            if name in KEY_COLS:
                art = r.random(n) < 0.3
                v[art] = ['"=""' + s + '"""' for s in v[art]]
            v[empty] = ""
        elif typ == "NUMERIC":
            idx = r.integers(0, len(cents_vocab), n)
            v = cents_vocab[idx]
            v[empty] = ""
            if name in MODEL_SUM_COLS:
                model_cols[name] = np.where(empty, -1, idx * CENT_STEP)
        elif typ == "DATE":
            v = iso[r.integers(0, ORDER_DAYS, n)]
            v[empty] = ""
        elif typ == "BOOLEAN":
            v = np.array(["True", "False"], dtype=object)[r.integers(0, 2, n)]
            v[empty] = ""
        else:
            raise ValueError(f"unsupported type {typ}")
        cols.append(v)
    header = ",".join(name for name, _ in fields)
    body = "\n".join(map(",".join, zip(*cols)))
    model = []
    for i in np.nonzero(~bad_date)[0]:
        d = DAY0 + dt.timedelta(days=int(exp_days[i]))
        model.append((f"{d.year:04d}-{d.month:02d}",
                      {c: (None if model_cols[c][i] < 0 else int(model_cols[c][i]))
                       for c in MODEL_SUM_COLS}))
    return (header + "\n" + body + "\n").encode("utf-8"), model, \
        [int(x) for x in exp_days[~bad_date]]


# Upload sizes in schedule order (0 marks a poisoned upload): the
# untimed warm-up uploads, then one ladder after another. The warm-up is
# a centre-size upload, which runs every code path cold, a poisoned
# upload, so every run checks the dead-letter path, and one more
# centre-size upload. Each ladder opens with three centre-size uploads,
# so a short run (three timed uploads) times the centre size whatever
# the seed; the small and
# large uploads after them pair up around the centre size, so longer runs
# keep the centre size's median while separating fixed from per-row cost.
# The seed jitters each size by up to 3% and drives all content and
# dates. The first timed upload (batch 3) also runs the pipeline's
# compaction (UploadStream sets compactEveryBatches = 2; batch 1, the
# poisoned one, never reaches the merge).
WARM_UPLOADS = (1200, 0, 1200)
UPLOAD_LADDER = (1200, 1200, 1200, 0, 400, 2000, 800, 1600)
POISON_ROWS = 200


def renewal_plan(seed, n_ladders):
    """Upload schedule: (kind, rows, first day, last day) per upload.
    Windows slide forward by 20..40 days and are 60 days long, so every
    window overlaps the one before it."""
    r = rng_for(seed, "plan")
    plan, start = [], 900
    for size in WARM_UPLOADS + UPLOAD_LADDER * n_ladders:
        if size == 0:
            plan.append(("poison", POISON_ROWS, start, start + 60))
            continue
        start += int(r.integers(20, 41))
        plan.append(("good", int(size * r.uniform(0.97, 1.03)), start, start + 60))
    return plan


def renewal_base(seed, fields, n_rows, day_hi):
    """Pre-seeded base table content: two years of renewals ending just
    inside the first upload window."""
    r = rng_for(seed, "base")
    return _renewal_csv(r, fields, n_rows, day_hi - 730, day_hi, False)


def renewal_uploads(seed, fields, plan):
    r = rng_for(seed, "uploads")
    out = []
    for k, (kind, n, lo, hi) in enumerate(plan):
        data, model, days = _renewal_csv(r, fields, n, lo, hi, kind == "poison")
        out.append({"name": f"RenewalList-{k:03d}.csv", "kind": kind,
                    "bytes": data, "model": model, "days": days})
    return out


def merge_model(base_model, base_days, uploads):
    """Cutoff-merge semantics (config.py:190-199 analog) over the clean
    rows: each good upload replaces every row on/after its MIN expiry
    date. Returns per-month {count, <col>: cents} after all uploads."""
    rows = list(zip(base_days, base_model))
    for u in uploads:
        if u["kind"] != "good":
            continue
        cut = min(u["days"])
        rows = [x for x in rows if x[0] < cut] + list(zip(u["days"], u["model"]))
    out = {}
    for _, (month, sums) in rows:
        e = out.setdefault(month, {"count": 0, **{c: 0 for c in MODEL_SUM_COLS}})
        e["count"] += 1
        for c in MODEL_SUM_COLS:
            if sums[c] is not None:
                e[c] += sums[c]
    return dict(sorted(out.items()))
