"""Tests for the benchmark's pure pieces.

    python3 -m unittest discover -s perfbench/tests
"""
import io
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen    # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(0))
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)


def span(id_, start, end, parent=0, name="views.x", op=1):
    return {"id": id_, "parent": parent, "op": op, "name": name,
            "start_us": start, "end_us": end}


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        parent = span(1, 0, 100)
        kids = [span(2, 10, 30), span(3, 20, 50), span(4, 90, 120)]
        # children cover [10, 50] and, clipped to the parent, [90, 100]
        self.assertEqual(stats.self_time(parent, kids), 50)

    def test_no_children_and_disjoint(self):
        self.assertEqual(stats.self_time(span(1, 5, 25), []), 20)
        self.assertEqual(stats.self_time(span(1, 5, 25), [span(2, 30, 40)]), 20)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)

    def test_by_layer_with_jobs(self):
        op = span(1, 0, 1_000_000, name="op.cycle")
        merge = span(2, 0, 400_000, parent=1, name="merge.updateTable")
        views = span(3, 400_000, 1_000_000, parent=1, name="views.createAll")
        jobs = [
            {"job": 7, "start_us": 100_000, "end_us": 300_000,
             "call_site": "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
                          "graft.merge.Merge$.updateTable(Merge.scala:70)"},
            {"job": 8, "start_us": 500_000, "end_us": 600_000, "call_site": "",
             "exec_site": ""},
        ]
        got = stats.self_time_by_layer([op, merge, views], jobs)
        self.assertAlmostEqual(got["client"], 0.0)
        # merge span 0.4 s, of which its job covers 0.2 s; the job is merge too
        self.assertAlmostEqual(got["merge"], 0.4)
        # the anonymous job inherits its parent span's layer
        self.assertAlmostEqual(got["views"], 0.6)


class Attribution(unittest.TestCase):
    SITE = ("org.apache.spark.sql.Dataset.count(Dataset.scala:10)\n"
            "graft.Tables$.apply(Tables.scala:29)\n"
            "graft.util.Checkpoints$.checkpointTracked(Checkpoints.scala:40)\n"
            "graft.merge.Merge$.updateTablePartitioned(Merge.scala:120)\n"
            "perfbench.UploadStream.op(Workloads.scala:1)")

    def test_first_module_frame(self):
        # graft.Tables is top-level, not a module; util comes first
        self.assertEqual(stats.layer_of(self.SITE), "util")
        self.assertEqual(stats.layer_of("graft.sources.Xlsx$.read(Xlsx.scala:1)"), "clean")
        self.assertEqual(stats.layer_of("  graft.views.Views$.retention(Views.scala:5)"), "views")
        self.assertIsNone(stats.layer_of("perfbench.Main$.main(Main.scala:1)"))
        self.assertIsNone(stats.layer_of(None))

    def test_execution_site_fallback(self):
        job = {"call_site": "java.util.concurrent.ThreadPoolExecutor.runWorker(X.java:1)",
               "exec_site": "graft.views.Views$.autoOptiom(Views.scala:9)"}
        self.assertEqual(stats.layer_of(stats.site_of(job)), "views")
        own = {"call_site": "graft.ext.Bm25$.q(Bm25.scala:1)", "exec_site": "graft.views.V$.x(V.scala:1)"}
        self.assertEqual(stats.layer_of(stats.site_of(own)), "ext")

    def test_deck_modules(self):
        site = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
                "graft.multimodal.Multimodal$.decode(Multimodal.scala:3)\n"
                "graft.ext.TextOps$.qCurate(TextOps.scala:2)")
        self.assertEqual(stats.layer_of(site), "multimodal")
        # the deck's spans are named <module>.<query>
        self.assertEqual(stats.span_layer("ext.q_bpe_encode"), "ext")
        self.assertEqual(stats.span_layer("operators.q_scd2"), "operators")

    def test_merge_role(self):
        root = "file:/w/upload_stream/base"
        self.assertEqual(stats.merge_role({"call_site": "", "exec_write": root + "_update.tmp"}), "stage")
        self.assertEqual(stats.merge_role({"call_site": "", "exec_write": root}), "rewrite")
        self.assertEqual(stats.merge_role({"call_site": "", "exec_write": "file:/w/.compact-tmp-2020-01"}),
                         "compact")
        self.assertIsNone(stats.merge_role({"call_site": "", "exec_write": root + "_cleaned/R.CSV"}))
        self.assertEqual(stats.merge_role({"call_site": "", "exec_paths": [root + "_update"]}), "merge")
        self.assertIsNone(stats.merge_role({"call_site": "", "exec_paths": ["file:/w/upload/a.csv"]}))
        upd = "graft.merge.Merge$.overwriteAtomic(M.scala:1)\ngraft.merge.Merge$.updateTable(M.scala:2)"
        self.assertEqual(stats.merge_role({"call_site": upd, "out_records": 5}), "rewrite")
        self.assertEqual(stats.merge_role({"call_site": upd, "out_records": 0}), "merge")
        self.assertEqual(stats.merge_role({"call_site": "graft.merge.Merge$.overwriteAtomic(M.scala:1)"}),
                         "stage")


def parquet_bytes(table):
    buf = io.BytesIO()
    gen.pq.write_table(table, buf)
    return buf.getvalue()


class GeneratorDeterminism(unittest.TestCase):
    fields = gen.load_fields()

    def uploads(self, seed):
        return [u["bytes"] for u in gen.renewal_uploads(seed, self.fields,
                                                        gen.renewal_plan(seed, 1))]

    def staging(self, seed):
        li = gen.star_tables(seed, 0.001)["lineitem"]
        batches, _ = gen.staging_batches(seed, li, 2)
        return [parquet_bytes(b) for b in batches]

    def test_uploads(self):
        a, b, c = self.uploads(7), self.uploads(7), self.uploads(8)
        self.assertEqual(a, b)
        self.assertEqual(len(a), len(c))
        self.assertTrue(all(x != y for x, y in zip(a, c)))

    def test_staging_batches(self):
        a, b, c = self.staging(7), self.staging(7), self.staging(8)
        self.assertEqual(a, b)
        self.assertTrue(all(x != y for x, y in zip(a, c)))

    def test_tables(self):
        a = parquet_bytes(gen.star_tables(3, 0.001)["orders"])
        self.assertEqual(a, parquet_bytes(gen.star_tables(3, 0.001)["orders"]))
        self.assertNotEqual(a, parquet_bytes(gen.star_tables(4, 0.001)["orders"]))

    def test_corpus(self):
        def corpus(seed):
            return [parquet_bytes(t) for t in gen.corpus_tables(seed, 60, 40, 300).values()]
        a, b, c = corpus(5), corpus(5), corpus(6)
        self.assertEqual(a, b)
        self.assertTrue(all(x != y for x, y in zip(a, c)))

    def test_plan_keeps_the_ladder(self):
        for seed in (1, 2):
            plan = gen.renewal_plan(seed, 2)
            self.assertEqual(len(plan), len(gen.WARM_UPLOADS) + 2 * len(gen.UPLOAD_LADDER))
            poison = [k for k, *_ in plan].count("poison")
            self.assertEqual(poison, gen.WARM_UPLOADS.count(0) + 2 * gen.UPLOAD_LADDER.count(0))
            starts = [lo for kind, _, lo, _ in plan if kind == "good"]
            ends = [hi for kind, _, _, hi in plan if kind == "good"]
            # each good upload's window overlaps the one before it
            self.assertTrue(all(s < e for s, e in zip(starts[1:], ends)))


class MetricNames(unittest.TestCase):
    def test_benchmark_json_matches_run(self):
        import importlib.util
        import json
        here = os.path.dirname(os.path.abspath(__file__))
        spec_path = os.path.join(here, "..", "..", "BENCHMARK.json")
        if not os.path.exists(spec_path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        spec = importlib.util.spec_from_file_location("run", os.path.join(here, "..", "run.py"))
        run = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(run)
        with open(spec_path) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(run.PER_LAYER))
        self.assertEqual([m["unit"] for m in bench["per_layer"]],
                         [run.unit_of(k) for k in run.PER_LAYER])

    def test_deck_matches_the_harness(self):
        import importlib.util
        import re
        here = os.path.dirname(os.path.abspath(__file__))
        spec = importlib.util.spec_from_file_location("run", os.path.join(here, "..", "run.py"))
        run = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(run)
        with open(os.path.join(here, "..", "src", "main", "scala", "perfbench",
                               "Workloads.scala")) as f:
            scala = f.read()
        deck = scala[scala.index("object Deck"):]
        self.assertEqual(tuple(re.findall(r'"(q_\w+)" -> "(\w+)"', deck)), run.DECK)


class MergeModel(unittest.TestCase):
    def test_cutoff_replaces_on_and_after(self):
        base_days = [10, 40, 70]
        base = [("1995-01", {"CommissionAmt": 100, "AmountDue": None}),
                ("1995-02", {"CommissionAmt": 200, "AmountDue": 5}),
                ("1995-03", {"CommissionAmt": 300, "AmountDue": 7})]
        up = {"kind": "good", "days": [40, 45],
              "model": [("1995-02", {"CommissionAmt": 1, "AmountDue": 2}),
                        ("1995-02", {"CommissionAmt": 3, "AmountDue": None})]}
        bad = {"kind": "poison", "days": [], "model": []}
        got = gen.merge_model(base, base_days, [up, bad])
        self.assertEqual(got, {
            "1995-01": {"count": 1, "CommissionAmt": 100, "AmountDue": 0},
            "1995-02": {"count": 2, "CommissionAmt": 4, "AmountDue": 2}})

    def test_lineitem_top10_ids(self):
        import numpy as np
        state = {"l_shipdate": np.array(["1995-01-02", "1995-01-01", "1995-01-02"],
                                        dtype="datetime64[us]"),
                 "l_orderkey": np.array([5, 9, 4]), "l_linenumber": np.array([1, 1, 2]),
                 "l_extendedprice": np.array([1.25, 2.5, 3.75])}
        m = gen.lineitem_model(state, n_top=2)
        self.assertEqual(m["top10"], [[5, 1, 125, 3], [4, 2, 375, 2]])
        self.assertEqual(m["per_month"], {"1995-01": [3, 750]})


if __name__ == "__main__":
    unittest.main()
