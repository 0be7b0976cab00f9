"""Pure pieces of the benchmark's analysis: percentiles, call-site to
layer attribution, span trees and self time. Tested in
tests/test_pure.py."""
import math
import re

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def tail_percentile(n):
    """Highest percentile of the ladder with at least MIN_BEYOND samples
    beyond it among n samples, or None when even p75 is unsupported."""
    for p in TAIL_LADDER:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= MIN_BEYOND:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


# Modules of the program; `sources` is read through the clean layer.
MODULE_LAYER = {"sources": "clean"}
GRAFT_FRAME = re.compile(r"^\s*graft\.([a-z_]+)\.")


def layer_of(call_site):
    """Layer of a Spark job: the module of the first `graft.<module>`
    frame of its call site (innermost first), or None when the job was
    not started from inside a program module."""
    for line in (call_site or "").splitlines():
        m = GRAFT_FRAME.match(line)
        if m:
            return MODULE_LAYER.get(m.group(1), m.group(1))
    return None


def site_of(job):
    """Call site that explains a job: its own when that names a program
    frame, else the one of the SQL execution it belongs to (jobs of
    adaptive query stages are submitted from a pool thread)."""
    own = job.get("call_site") or ""
    return own if layer_of(own) else (job.get("exec_site") or own)


def merge_role(job):
    """Which merge step a job serves, from the call site when it names
    one, else from the table paths of its SQL execution (inside a
    streaming batch every call site is the query's). Staging is written
    to `<base>_update` through a `.tmp` sibling, the cleaned artifact to
    `<base>_cleaned`, compaction to `.compact-tmp-<month>`. Returns
    stage, compact, rewrite, merge (other merge work) or None."""
    site = site_of(job)
    if "graft.merge." in site:
        if "Merge$.compactPartitions" in site:
            return "compact"
        if "Merge$.updateTable" in site:
            return "rewrite" if job.get("out_records") else "merge"
        if "Merge$.overwriteAtomic" in site:
            return "stage"
        return "merge"
    write = job.get("exec_write") or ""
    if "/.compact-tmp-" in write:
        return "compact"
    if write.endswith("_update.tmp"):
        return "stage"
    if write and "_cleaned" not in write:
        return "rewrite"
    if any(p.endswith("_update") for p in job.get("exec_paths") or ()):
        return "merge"
    return None


def span_layer(name):
    """Layer of a benchmark span from its name prefix (`merge.updateTable`
    -> merge). `cache.*` spans wrap SessionCache, which lives in util;
    `op.*` spans are the client."""
    head = name.split(".", 1)[0]
    return {"op": "client", "cache": "util"}.get(head, head)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval that its
    children cover (children may overlap each other or stick out)."""
    s, e = span["start_us"], span["end_us"]
    clipped = [(max(s, c["start_us"]), min(e, c["end_us"])) for c in children
               if c["end_us"] > s and c["start_us"] < e]
    return (e - s) - union_length(clipped)


def attach_jobs(spans, jobs):
    """Give every job a parent: the innermost benchmark span (shortest
    interval) that contains the job's start. Returns job spans in the
    span format with `layer` set by call site (merge when merge_role
    places it there), inheriting the parent's layer when the call site
    names no program module."""
    timed = [s for s in spans if "value" not in s]
    out = []
    for j in jobs:
        parent = None
        for s in timed:
            if s["start_us"] <= j["start_us"] <= s["end_us"] and (
                    parent is None or
                    s["end_us"] - s["start_us"] < parent["end_us"] - parent["start_us"]):
                parent = s
        layer = "merge" if merge_role(j) else layer_of(site_of(j))
        if layer is None:
            layer = span_layer(parent["name"]) if parent else "client"
        out.append(dict(j, id=("job", j["job"]), name=f"job.{j['job']}",
                        parent=parent["id"] if parent else 0,
                        op=parent["op"] if parent else 0, layer=layer))
    return out


def self_time_by_layer(spans, jobs):
    """Self time (seconds) summed per layer over benchmark spans and the
    Spark jobs attached under them."""
    timed = [dict(s, layer=span_layer(s["name"])) for s in spans if "value" not in s]
    nodes = timed + attach_jobs(spans, jobs)
    kids = {}
    for n in nodes:
        kids.setdefault(n["parent"], []).append(n)
    out = {}
    for n in nodes:
        t = self_time(n, kids.get(n["id"], []))
        out[n["layer"]] = out.get(n["layer"], 0.0) + t / 1e6
    return out
