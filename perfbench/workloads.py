"""The benchmark's workloads.

Each workload makes its inputs from the seed (``prepare``), runs one
operation per ``run_op`` call in a closed loop with one client, and checks
every output afterwards (``check``). Operations come in passes of
``pass_len``; the timed window always ends on a pass boundary, so every run
of a workload does the same kind and amount of work per pass.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import datagen
from checks import Oracle, check_query


class OpResult(NamedTuple):
    units: int  # work done, in the workload's unit
    in_bytes: int  # input bytes the operation consumed
    out_bytes: int = 0  # bytes written: outputs, state and published versions
    files: int = 0  # files written


def _files(path: str) -> int:
    return sum(len(f) for _r, _d, f in os.walk(path))


class Workload:
    name = ""
    unit = ""
    pass_len = 1
    overhead_pairs = 1  # traced/untraced pairs of repeat_op

    def __init__(self, bench) -> None:
        self.b = bench
        self.errors: dict[int, str] = {}  # op index -> why it failed
        self.input_rows: dict[str, int] = {}
        self.input_bytes = 0

    def prepare(self) -> None: ...

    def label(self, i: int) -> str:
        return self.name

    def run_op(self, spark, i: int) -> OpResult:
        raise NotImplementedError

    def reference(self, spark) -> None:
        """Untimed, after set-up: compute what the checks compare against.
        It runs the operations' code paths once, so what a new JVM compiles
        on its first jobs is not charged to the timed window."""

    def check(self, spark, n_ops: int) -> None:
        """Record every operation whose output is wrong in ``self.errors``."""

    def repeat_op(self, spark) -> None:
        """The same work again, for the traced-against-untraced comparison."""
        raise NotImplementedError

    def layer_metrics(self, spark, spans, n_ops: int) -> dict:
        """Per-layer metrics only this workload can give (traced runs)."""
        return {}

    def _fixture(self, sf: float) -> str:
        path = os.path.join(self.b.work, "data", f"sf{sf}-seed{self.b.seed}")
        self.input_rows = datagen.write_fixture(path, self.b.seed, sf)
        self.input_bytes = datagen.dir_bytes(path)
        return path


class QueryMix(Workload):
    """A fixed list of registry queries, each forced through the noop sink,
    over a seeded sf0.01 fixture, each pass in a session no query has run
    in: every query is a first touch of the session (relation loads, plan
    build, memo builds) on a JVM that has already run the same queries
    once, in the reference, so compilation is mostly done.

    The reference runs every query once in sessions of its own, collects
    its rows and compares them with the DuckDB oracle; an operation of a
    query whose reference rows were wrong counts as failed.

    The seed makes the data, not the order. With five queries, a seeded
    order moved the median latency by 40% between seeds on a 4-core
    machine: the first query of a new JVM pays for what it compiles first,
    and whichever of minhash_dedup and dedup_clusters runs first pays for
    the relation they share."""

    name = "query-mix"
    unit = "queries"
    overhead_pairs = 5
    SF = 0.01
    # one query per engine area: relational with a persisted bridge
    # (revenue_by_nation), time series (asof_lag), two corpus queries
    # sharing one materialized relation (minhash_dedup builds it,
    # dedup_clusters reuses it), and the generate-and-score loop on the
    # generation kernels in Python workers (benchmark_scores)
    QUERIES = (
        "revenue_by_nation", "asof_lag", "minhash_dedup", "dedup_clusters",
        "benchmark_scores",
    )
    pass_len = len(QUERIES)
    CHECK_THREADS = 3

    def prepare(self) -> None:
        from synth_timeseries_data_spark.queries import all_queries

        self.registry = all_queries()
        self.sf_dir = self._fixture(self.SF)
        self.wrong: dict[str, str] = {}  # query -> what its reference got wrong
        self.session = None

    def label(self, i: int) -> str:
        return self.QUERIES[i % self.pass_len]

    def _execute(self, spark, name: str) -> None:
        q = self.registry[name]
        with self.b.span("queries.build"):
            df = q.build(spark, self.sf_dir)
        with self.b.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def reference(self, spark) -> None:
        """Every query against its oracle, CHECK_THREADS at a time, each in
        a new session so the window's session starts with nothing built."""
        def one(name: str) -> "str | None":
            try:
                return check_query(spark.newSession(), self.registry[name],
                                   self.sf_dir, oracle)
            except Exception as e:  # noqa: BLE001
                return f"check raised {type(e).__name__}: {e}"

        oracle = Oracle(self.sf_dir)
        try:
            with ThreadPoolExecutor(self.CHECK_THREADS) as pool:
                verdicts = dict(zip(self.QUERIES, pool.map(one, self.QUERIES)))
        finally:
            oracle.close()
        self.wrong = {name: why for name, why in verdicts.items() if why}

    def run_op(self, spark, i: int) -> OpResult:
        n_pass, k = divmod(i, self.pass_len)
        if k == 0:
            self.session = spark if n_pass == 0 else spark.newSession()
        self._execute(self.session, self.QUERIES[k])
        return OpResult(1, self.input_bytes)

    def check(self, spark, n_ops: int) -> None:
        for i in range(n_ops):
            name = self.label(i)
            if name in self.wrong:
                self.errors.setdefault(i, f"{name}: {self.wrong[name]}")

    def repeat_op(self, spark) -> None:
        self._execute(spark, self.QUERIES[0])

    def layer_metrics(self, spark, spans, n_ops: int) -> dict:
        """Generation kernel time, from calling the kernels in the driver on
        three of benchmark_scores' configs (its workers run the same calls
        inside the sweep)."""
        from synth_timeseries_data_spark.queries import benchmark as bm
        from synth_timeseries_data_spark.queries.generation import _COMPLETE_KERNELS

        rows = [r for r in bm._grid_rows(bm._SCOREABLE) if r[2] == 500]
        sample = rows[:: len(rows) // 3][:3]
        t0 = time.perf_counter()
        for f, _cid, n, v, lag, noise, p1, p2, p3 in sample:
            _COMPLETE_KERNELS[f](n, v, lag, noise, p1, p2, p3)
        mcells = sum(r[2] * r[3] for r in sample) / 1e6
        return {"generation.kernel_s_per_mcell": (time.perf_counter() - t0) / mcells}


class CurateIngest(Workload):
    """``sinks.write_curated_corpus_incremental`` with a publish root, one
    batch per operation, over a seeded sf0.01 fixture. Its documents are
    split into ``K`` batches by ``pmod(xxhash64(doc_id, seed), K)``; a pass
    ingests all K batches into fresh state and publishes one version per
    batch. The one-shot curation the checks compare with runs before the
    window, so the batches find the curation code paths compiled."""

    name = "curate-ingest"
    unit = "docs"
    SF = 0.01
    K = pass_len = 2

    def prepare(self) -> None:
        from synth_timeseries_data_spark import sinks

        self.sinks = sinks
        self.sf_dir = self._fixture(self.SF)
        self.doc_bytes = os.path.getsize(os.path.join(self.sf_dir, "documents.parquet"))
        self.n_docs = self.input_rows["documents"]
        self.root = os.path.join(self.b.work, "run", "curate-ingest")
        shutil.rmtree(self.root, ignore_errors=True)
        self.versions: dict[int, int] = {}
        self.processed: dict[int, int] = {}  # pass -> documents ingested
        self.trial = 0

    def _ingest(self, spark, base: str, b: int) -> dict:
        where = f"pmod(xxhash64(doc_id, {self.b.seed}), {self.K}) = {b}"
        with self.b.span("sinks.write_curated_corpus_incremental"):
            summary = self.sinks.write_curated_corpus_incremental(
                spark, self.sf_dir, os.path.join(base, "out"), where,
                publish_root=os.path.join(base, "publish"),
            ).collect()
        return {r.stage: r.n for r in summary}

    def run_op(self, spark, i: int) -> OpResult:
        p, b = divmod(i, self.K)
        base = os.path.join(self.root, f"pass{p}")
        bytes0, files0 = datagen.dir_bytes(base), _files(base)
        done = self._ingest(spark, base, b)
        self.versions[i] = done["published_version"]
        docs = done["docs_processed_total"] - self.processed.get(p, 0)
        self.processed[p] = done["docs_processed_total"]
        return OpResult(docs, self.doc_bytes * docs // self.n_docs,
                        datagen.dir_bytes(base) - bytes0, _files(base) - files0)

    def reference(self, spark) -> None:
        once = os.path.join(self.root, "one-shot")
        self.sinks.write_curated_corpus(spark, self.sf_dir, once)
        self.want = {r.doc_id for r in spark.read.parquet(os.path.join(once, "corpus"))
                     .select("doc_id").collect()}

    def check(self, spark, n_ops: int) -> None:
        """One published version per batch, and after each pass the
        published kept set equals the one-shot ``write_curated_corpus``'s."""
        for i, v in self.versions.items():
            if v != i % self.K + 1:
                self.errors.setdefault(i, f"published version {v}, expected {i % self.K + 1}")
        for p in range(n_ops // self.K):
            pub = os.path.join(self.root, f"pass{p}", "publish")
            try:
                got = {r.doc_id for r in self.sinks.read_published(spark, pub)
                       .select("doc_id").collect()}
            except FileNotFoundError:
                got = set()
            if got != self.want:
                for i in range(p * self.K, (p + 1) * self.K):
                    self.errors.setdefault(
                        i, f"pass {p}: {len(got)} docs published, one-shot kept {len(self.want)}"
                    )

    def repeat_op(self, spark) -> None:
        self.trial += 1
        base = os.path.join(self.root, f"trial{self.trial}")
        self._ingest(spark, base, 0)
        shutil.rmtree(base, ignore_errors=True)


WORKLOADS = {w.name: w for w in (QueryMix, CurateIngest)}
