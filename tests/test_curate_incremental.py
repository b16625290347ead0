"""Incremental curation batch (sinks.write_curated_corpus_incremental):
both connected-components paths of the snapshot publish the one-shot
corpus, the delta probe reads a caller-owned batch aggregate, the jobs
the batch's pool threads start stay in the caller's job group, and the
CLI summary's footer/Observation counts agree with each other."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest

import synth_timeseries_data_spark.queries.llm_pipeline as lp
from synth_timeseries_data_spark import sinks
from synth_timeseries_data_spark.__main__ import main

BATCHES = ("doc_id < 250", "doc_id >= 250")


def _corpus_rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select("doc_id", "source", "text").collect()))


class _CountHybrid:
    """Rebinds lp._cc_hybrid to a call-counting wrapper while active."""

    def __enter__(self):
        self.calls = 0
        self._orig = lp._cc_hybrid

        def counted(edges):
            self.calls += 1
            return self._orig(edges)

        lp._cc_hybrid = counted
        return self

    def __exit__(self, *exc):
        lp._cc_hybrid = self._orig


@pytest.fixture(scope="module")
def one_shot(spark, smoke_sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("oneshot"))
    sinks.write_curated_corpus(spark, smoke_sf_dir, out)
    return _corpus_rows(spark.read.parquet(os.path.join(out, "corpus")))


@pytest.fixture(scope="module")
def cli_two_batch(spark, smoke_sf_dir, tmp_path_factory):
    """The CLI two-batch run with the default gate: the first batch runs
    under job group "g" (job ids recorded around it), ``_cc_hybrid``
    calls are counted, and each batch's printed summary is parsed."""
    base = tmp_path_factory.mktemp("cli_inc")
    out, pub = str(base / "inc"), str(base / "pub")
    sc = spark.sparkContext
    st = sc.statusTracker()
    summaries, jobs = [], {}
    with _CountHybrid() as hybrid:
        for i, pred in enumerate(BATCHES):
            if i == 0:
                ungrouped0 = set(st.getJobIdsForGroup(None))
                sc.setJobGroup("g", "incremental curation batch")
            buf = io.StringIO()
            try:
                with redirect_stdout(buf):
                    rc = main(["curate", "--sf-dir", smoke_sf_dir, "--out", out,
                               "--publish", pub, "--batch-where", pred])
            finally:
                if i == 0:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    jobs["grouped"] = set(st.getJobIdsForGroup("g"))
                    jobs["new_ungrouped"] = (
                        set(st.getJobIdsForGroup(None)) - ungrouped0
                    )
            assert rc == 0
            summaries.append({
                parts[0]: int(parts[1])
                for parts in map(str.split, buf.getvalue().splitlines())
                if len(parts) == 2 and parts[1].lstrip("-").isdigit()
            })
    return {
        "summaries": summaries,
        "jobs": jobs,
        "hybrid_calls": hybrid.calls,
        "published": _corpus_rows(sinks.read_published(spark, pub)),
    }


def test_incremental_batch_jobs_stay_in_caller_job_group(cli_two_batch):
    # the decisions, corpus, state and publish writes are each at least
    # one job; the pool-thread ones would be ungrouped without inheritance
    jobs = cli_two_batch["jobs"]
    assert len(jobs["grouped"]) >= 6, jobs
    assert jobs["new_ungrouped"] == set(), jobs


def test_cli_incremental_summary_invariants(cli_two_batch, smoke_sf_dir):
    from synth_timeseries_data_spark.sources import table_rows

    s1, s2 = cli_two_batch["summaries"]
    for s in (s1, s2):
        assert s["kept"] == s["corpus_rows_written"] > 0
        assert s["decisions_rows_written"] == s["docs_processed_total"]
    assert s1["batch_new_edges"] + s2["batch_new_edges"] == s2["edges_total"]
    assert s2["docs_processed_total"] == table_rows(smoke_sf_dir, "documents")
    assert (s1["published_version"], s2["published_version"]) == (1, 2)


def test_incremental_cc_paths_publish_one_shot_corpus(
    spark, smoke_sf_dir, tmp_path, one_shot, cli_two_batch
):
    # below the gate the snapshot never runs the distributed loop
    assert cli_two_batch["hybrid_calls"] == 0
    assert cli_two_batch["published"] == one_shot and one_shot
    # gate forced to -1: every batch's snapshot labels come from _cc_hybrid
    out, pub = str(tmp_path / "inc"), str(tmp_path / "pub")
    old = lp._CC_DRIVER_PAIRS
    lp._CC_DRIVER_PAIRS = -1
    try:
        with _CountHybrid() as hybrid:
            for pred in BATCHES:
                sinks.write_curated_corpus_incremental(
                    spark, smoke_sf_dir, out, pred, publish_root=pub
                )
    finally:
        lp._CC_DRIVER_PAIRS = old
    assert hybrid.calls == len(BATCHES)
    assert _corpus_rows(sinks.read_published(spark, pub)) == one_shot


def test_minhash_delta_pairs_reads_caller_docagg(spark, smoke_sf_dir):
    """With ``delta_docagg`` the probe reads the caller's batch aggregate:
    same pairs as building its own, no documents scan in the probe plan,
    and the caller's view stays registered."""
    from synth_timeseries_data_spark.functions.neardup_index import (
        _mh_shingles_cte,
        index_posture,
        minhash_delta_pairs,
    )

    d, delta = lp._SPARK_D, "doc_id % 7 = 3"
    views = ("_t_idx_dagg", "_t_idx_mem", "_t_delta_dagg")
    lp._register_docs(spark, smoke_sf_dir)
    try:
        with index_posture(spark):
            spark.sql(
                _mh_shingles_cte(f"NOT ({delta})") + lp._mh_docagg_sql(d)
            ).localCheckpoint().createOrReplaceTempView(views[0])
            spark.sql(
                f"SELECT doc_id, band, sig FROM ({lp._mh_sigs_sql(d, views[0])})"
            ).createOrReplaceTempView(views[1])
            spark.sql(
                _mh_shingles_cte(delta) + lp._mh_docagg_sql(d)
            ).localCheckpoint().createOrReplaceTempView(views[2])
            want = minhash_delta_pairs(spark, smoke_sf_dir, *views[:2], delta)
            got = minhash_delta_pairs(
                spark, smoke_sf_dir, *views[:2], delta, delta_docagg=views[2]
            )
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert plan.count("documents.parquet") == 0, plan[:2000]
            want_rows = sorted(map(tuple, want.collect()))
            got_rows = sorted(map(tuple, got.collect()))
        assert got_rows == want_rows and want_rows
        assert spark.catalog.tableExists(views[2])
    finally:
        for v in views:
            spark.catalog.dropTempView(v)
