"""``dataprep``: the two LLM data-preparation jobs in one run (one JVM
start for both): corpus curation through ``pipeline_pretraining_full``
(wl_prep.PrepCorpus) for the first half of the window, then an IVF
index built, appended to and probed (wl_ann.AnnServe) for the second
half. The index build is untimed warm-up, reported as a layer metric."""

from __future__ import annotations

from wl_ann import AnnServe
from wl_prep import PrepCorpus


class DataPrep:
    #: which of this workload's results each end-to-end metric reports
    E2E_FROM = {"ops_per_cpu_s": "docs_per_cpu_s",
                "writes_per_cpu_s": "append_vecs_per_cpu_s",
                "reads_per_cpu_s": "queries_per_cpu_s"}

    def __init__(self, seed: int, work: str, tracer):
        self.prep = PrepCorpus(seed, work, tracer)
        self.ann = AnnServe(seed, work, tracer)

    def generate(self) -> dict:
        return {**self.prep.generate(), **self.ann.generate()}

    def setup(self, spark) -> dict:
        return {}

    def measure(self, spark, seconds: float, listener=None) -> dict:
        p = self.prep.measure(spark, seconds / 2)
        a = self.ann.measure(spark, seconds / 2)
        return {**p, **a, "attempted": p["attempted"] + a["attempted"],
                "failed": p["failed"] + a["failed"]}

    def layers(self, spark) -> dict:
        return self.prep.layers(spark)
