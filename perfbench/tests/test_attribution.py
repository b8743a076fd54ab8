"""Call-site → module attribution. Run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import attribution  # noqa: E402
from attribution import job_attribution, job_module, site_attribution, UNATTRIBUTED  # noqa: E402

AQE_STAGE = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"


class AttributionTest(unittest.TestCase):
    def test_table_covers_the_library_modules(self):
        t = attribution.TABLE
        self.assertEqual(t["AnnStore.scala"], "sinks.AnnStore")
        self.assertEqual(t["MergeWriter.scala"], "sinks.MergeWriter")
        self.assertEqual(t["SketchStore.scala"], "sinks")
        self.assertEqual(t["SimOps.scala"], "ops.SimOps")
        self.assertEqual(t["CoreOps.scala"], "ops")
        self.assertEqual(t["Graft.scala"], "ops")
        self.assertEqual(t["KlineJson.scala"], "sources")
        self.assertEqual(t["StreamOps.scala"], "streaming")
        self.assertEqual(t["Checkpoints.scala"], "Checkpoints")
        self.assertEqual(t["Sessions.scala"], "Sessions")

    def test_result_stage_call_sites(self):
        self.assertEqual(job_module("saveAsTable at AnnStore.scala:140"), "sinks.AnnStore")
        self.assertEqual(job_module("parquet at MergeWriter.scala:54"), "sinks.MergeWriter")
        # materialising a checkpoint is the Checkpoints layer wherever it is called
        self.assertEqual(job_module("localCheckpoint at SimOps.scala:263"), "Checkpoints")

    def test_adaptive_stage_goes_through_its_execution(self):
        self.assertEqual(job_module(AQE_STAGE), UNATTRIBUTED)
        self.assertEqual(job_module(AQE_STAGE, "saveAsTable at AnnStore.scala:140"), "sinks.AnnStore")
        self.assertEqual(job_module(AQE_STAGE, "localCheckpoint at SimOps.scala:263"), "Checkpoints")
        details = ("graft.sinks.MergeWriter$.merge(MergeWriter.scala:61)\n"
                   "graft.streaming.StreamOps$.$anonfun$ingestSink$1(StreamOps.scala:2210)")
        self.assertEqual(job_module(AQE_STAGE, "run at ForeachBatchSink.scala:12", details),
                         "sinks.MergeWriter")

    def test_stream_thread_stack_wins_over_the_query_start_site(self):
        start = "start at StreamOps.scala:2198"
        self.assertEqual(job_module(start), "streaming")
        self.assertEqual(job_module(start, stack_site="parquet at MergeWriter.scala:54"),
                         "sinks.MergeWriter")
        self.assertEqual(job_module(start, stack_site="localCheckpoint at StreamOps.scala:2205"),
                         "Checkpoints")

    def test_fallback_to_the_enclosing_call_then_unattributed(self):
        bench_site = "collect at Main.scala:120"
        self.assertEqual(job_module(bench_site, bench_site, "graftbench.AnnLive$.search(Main.scala:120)",
                                    call_module="ops.SimOps"), "ops.SimOps")
        self.assertEqual(job_module(bench_site, bench_site, ""), UNATTRIBUTED)
        self.assertIsNone(site_attribution(bench_site, bench_site,
                                           "graftbench.AnnLive$.search(Main.scala:120)"))
        self.assertIsNone(site_attribution(AQE_STAGE))

    def test_how_a_job_was_attributed(self):
        # engine.unattributed_share counts the "fallback" and "none" jobs
        self.assertEqual(job_attribution("parquet at MergeWriter.scala:54", call_module="streaming"),
                         ("sinks.MergeWriter", "site"))
        # the benchmark collecting what a public call returned
        self.assertEqual(job_attribution(AQE_STAGE, "collect at Main.scala:296", call_module="ops"),
                         ("ops", "action"))
        # nothing about the job names a module: only the enclosing call claims it
        self.assertEqual(job_attribution(AQE_STAGE, call_module="streaming"), ("streaming", "fallback"))
        self.assertEqual(job_attribution(AQE_STAGE), (UNATTRIBUTED, "none"))
        self.assertEqual(job_attribution("collect at Main.scala:296"), (UNATTRIBUTED, "none"))
        self.assertEqual(job_module("", "", ""), UNATTRIBUTED)
        self.assertEqual(job_module("not a call site"), UNATTRIBUTED)


if __name__ == "__main__":
    unittest.main()
