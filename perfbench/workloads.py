"""The workloads: ``adhoc_sql`` and ``curation``.

A workload generates its inputs from the seed, sets up (fresh session,
catalog registration, its own index and one warm-up operation), yields
units of operations for the closed loop in run.py, and afterwards
checks the result of every operation against DuckDB, marking wrong or
failed ones with an ``error``. Every call into a layer of the program
goes through ``Workload.call`` so the traced run gets a span named
after the layer.

Layer names follow the program's modules: ``session`` (get_spark),
``catalog`` (register_views), ``sources`` (load_reference_catalog),
``sql`` (run_sql and its action), ``dedup`` / ``pipeline`` (operator
entry points) and ``streaming`` (stream_incremental_dedup).
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen, sqlgen
from perfbench.check import DuckDB, digest

# Input sizes, the same for every seed (listed in perfbench/README.md).
ADHOC_SF = 0.02
ADHOC_DOCS = 1000
CORPUS_BASE_DOCS = 60
CORPUS_REPLICAS = 10
CORPUS_CLUSTERS = 15
SIDE_SF = 0.002  # catalog tables registered beside the corpus but never scanned
CURATION_SHARDS = 2  # shards ingested per curation cycle
MAX_SHARDS = 64  # shards generated; a run lands them in order
SHARD_DOCS = 40
SHARD_DUP_SHARE = 0.3


# Threads for the output checks, which run after measuring.
CHECK_THREADS = 4


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _attempt(fn):
    """``fn()``, or the exception it raised: a failed check counts
    against its operation instead of ending the run."""
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 - reported per operation
        return exc


class Workload:
    """Set-up and loop hooks shared by the workloads.

    ``request`` says what one end-to-end latency sample is: one
    operation (``"op"``) or one whole unit (``"unit"``).
    ``warm_units`` units run unmeasured before the measured ones, to
    finish JIT and code generation for what the set-up's warm-up
    operation does not touch."""

    name = ""
    request = "op"
    warm_units = 1

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.tr = tracer
        self.spark = None
        self.inputs: dict = {}
        # One dict per measured operation (see run.measure).
        self.records: list[dict] = []

    def call(self, layer: str, fn, *args, **kwargs):
        with self.tr.span(layer):
            return fn(*args, **kwargs)

    def setup(self) -> float:
        """One full set-up from a fresh session; returns its seconds."""
        from sql_engine_spark.session import get_spark

        self.stop()
        t = time.perf_counter()
        spark = self.call(
            "session.start",
            get_spark,
            app_name=f"perfbench-{self.name}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.tr.bind(spark)
        self.register()
        with self.tr.span("session.warmup"):
            self.warmup()
        return time.perf_counter() - t

    def stop(self) -> None:
        if self.spark is not None:
            from sql_engine_spark.operators import dedup as D

            D.clear_shingle_index()
            self.spark.stop()
            self.spark = None

    # Loop hooks; run.measure calls them around units and operations.
    def start(self) -> None:
        pass

    def before_unit(self, i: int) -> None:
        pass

    def after_op(self, rec: dict) -> None:
        pass

    def after_unit(self, i: int, traced: bool) -> None:
        pass


# ------------------------------------------------------------- adhoc_sql


class AdhocSql(Workload):
    """Seeded SQL text through ``run_sql``, each query materialised with
    a ``noop`` write. A unit is one round of ``sqlgen.rounds``."""

    name = "adhoc_sql"
    # Rounds keep getting faster until about the fifth (on 4 cores:
    # 5.2, 4.7, 4.6, 4.3, 3.8, then 3.6-3.9 s), so measuring starts there.
    warm_units = 4

    def generate(self) -> None:
        docs = gen.documents_table(
            range(ADHOC_DOCS), gen.random_texts(gen.stream_rng(self.seed, 3), ADHOC_DOCS), gen.stream_rng(self.seed, 4)
        )
        self.tpch_dir = os.path.join(self.work_dir, "tpch")
        self.ref_dir = os.path.join(self.work_dir, "ref")
        self.inputs = {
            "tpch_sf": ADHOC_SF,
            "tables": gen.write_tpch(self.tpch_dir, self.seed, ADHOC_SF, docs),
            "reference_catalog": gen.write_reference_catalog(self.ref_dir, self.seed),
        }
        self._rounds = sqlgen.rounds(self.seed)

    def register(self) -> None:
        from sql_engine_spark.catalog import register_views
        from sql_engine_spark.sources.csv_catalog import load_reference_catalog

        self.call("catalog.register", register_views, self.spark, self.tpch_dir)
        self.call("sources.csv_register", load_reference_catalog, self.spark, self.ref_dir)

    def warmup(self) -> None:
        # The same fixed q5 every set-up: the first query of a session
        # pays for code generation and class loading.
        self._query(*sqlgen.HEAVY[3](gen.stream_rng(0, 99)))

    def _query(self, sql, args) -> None:
        from sql_engine_spark.sql import run_sql

        df = self.call("sql.plan", run_sql, self.spark, sql, args)
        self.call("sql.exec", _noop, df)

    def units(self):
        for rnd in self._rounds:
            yield [
                (f"sql.{shape}", lambda sql=sql, args=args: self._query(sql, args), {"sql": sql, "args": args})
                for shape, sql, args in rnd
            ]

    def check(self) -> None:
        """Re-run each query collecting its rows and compare with DuckDB
        running the same text; DuckDB runs alongside the Spark re-runs."""
        from sql_engine_spark.sources.csv_catalog import parse_metadata
        from sql_engine_spark.sql import run_sql

        recs = [r for r in self.records if "error" not in r]

        def oracle() -> list:
            db = DuckDB()
            try:
                db.parquet_views(self.tpch_dir, self.inputs["tables"])
                db.csv_views(self.ref_dir, parse_metadata(os.path.join(self.ref_dir, "metadata.txt")))
                return [_attempt(lambda r=r: digest(db.table(r["sql"], r["args"]))) for r in recs]
            finally:
                db.close()

        with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
            wants = pool.submit(oracle)
            gots = list(
                pool.map(lambda r: _attempt(lambda: digest(run_sql(self.spark, r["sql"], r["args"]).toArrow())), recs)
            )
            wants = wants.result()
        for rec, got, want in zip(recs, gots, wants):
            if isinstance(got, Exception) or isinstance(want, Exception):
                rec["error"] = f"check: spark {got!r}, duckdb {want!r}"
                continue
            rec["rows_out"] = got[0]
            if got != want:
                rec["error"] = f"(rows, digest) {got} != duckdb {want}"


# -------------------------------------------------------------- curation

# (layer, matrix entry whose registered ORACLE gives the expected rows)
DEDUP_ORACLES = {
    "dedup.jaccard": "x02_dedup_ngram_jaccard",
    "dedup.components": "x20_dedup_components",
    "dedup.minhash": "x04_dedup_minhash_lsh",
    "pipeline.containment": "x38_containment",
    "pipeline.chunk_dedup": "x56_chunk_dedup",
    "pipeline.tfidf": "x34_tfidf_topterms",
}


class Curation(Workload):
    """A unit is one curation cycle. The batch half is a dedup pass over
    the corpus, each operator timed as its call plus collecting its
    result: shingle index, Jaccard pairs, connected components,
    MinHash-LSH pairs, containment pairs, chunk dedup and tf-idf top
    terms. The dedup memo is cleared before every cycle, so the index
    is built cold and then shared. The streaming half lands
    ``CURATION_SHARDS`` shard files one at a time; each is one
    AvailableNow ``stream_incremental_dedup`` call against one
    persistent checkpoint, probing the index the pass built."""

    name = "curation"
    request = "unit"

    def generate(self) -> None:
        corpus = gen.dedup_corpus(self.seed, CORPUS_BASE_DOCS, CORPUS_REPLICAS, CORPUS_CLUSTERS)
        self.data_dir = os.path.join(self.work_dir, "tables")
        self.tables = gen.write_tpch(self.data_dir, self.seed, SIDE_SF, corpus)
        shard_dir = os.path.join(self.work_dir, "shards")
        os.makedirs(shard_dir)
        self.shards = []
        for i, t in enumerate(gen.ingest_shards(self.seed, corpus, MAX_SHARDS, SHARD_DOCS, SHARD_DUP_SHARE)):
            path = os.path.join(shard_dir, f"shard_{i:04d}.parquet")
            gen.write_parquet(t, path)
            self.shards.append(path)
        self.inputs = {
            "corpus_docs": corpus.num_rows,
            "corpus_bytes": self.tables["documents"]["bytes"],
            "base_docs": CORPUS_BASE_DOCS,
            "replicas": CORPUS_REPLICAS,
            "planted_clusters": CORPUS_CLUSTERS,
            "shards_per_cycle": CURATION_SHARDS,
            "docs_per_shard": SHARD_DOCS,
            "near_dup_share": SHARD_DUP_SHARE,
        }
        self.landed: list[int] = []
        self.persisted_bytes = None
        self.listener = None
        self._calls = 0
        self._seen = 0

    def register(self) -> None:
        from sql_engine_spark.catalog import register_views

        self.docs = self.call("catalog.register", register_views, self.spark, self.data_dir)["documents"]

    def warmup(self) -> None:
        """Build the corpus index: the set-up a long-lived ingest service
        pays once. The stream's first calls are warmed by the warm-up
        cycle."""
        from sql_engine_spark.operators import dedup as D

        self.call("dedup.index", lambda: D.shingle_index(self.docs).count())
        D.clear_shingle_index()

    def start(self) -> None:
        self.landing, self.pairs_dir, self.ckpt = (os.path.join(self.work_dir, d) for d in ("landing", "pairs", "ckpt"))
        os.makedirs(self.landing)
        if self.tr.enabled:
            from perfbench.trace import ProgressListener

            self.listener = ProgressListener()
            self.spark.streams.addListener(self.listener)

    def _land(self) -> None:
        """Publish the next shard the way a producer would: write aside,
        then rename into the landing directory."""
        i = len(self.landed)
        if i == len(self.shards):
            raise RuntimeError(f"all {i} generated shards used; raise MAX_SHARDS")
        dst = os.path.join(self.landing, os.path.basename(self.shards[i]))
        shutil.copyfile(self.shards[i], dst + ".tmp")
        os.rename(dst + ".tmp", dst)
        self.landed.append(i)

    def _shard(self) -> int:
        from sql_engine_spark.streaming.ingest import read_documents_stream, stream_incremental_dedup

        self._land()
        stream = read_documents_stream(self.spark, self.landing, glob="*.parquet")
        out = self.call("streaming.ingest", stream_incremental_dedup, stream, self.docs, self.pairs_dir, self.ckpt)
        return out.count()

    def units(self):
        from sql_engine_spark.operators import dedup as D
        from sql_engine_spark.operators import pipeline as P

        docs = self.docs
        ops = [
            ("dedup.index", lambda: D.shingle_index(docs).count()),
            ("dedup.jaccard", lambda: D.ngram_jaccard_pairs(docs).toArrow()),
            (
                "dedup.components",
                lambda: D.connected_components(D.ngram_jaccard_pairs(docs), docs.select("doc_id")).toArrow(),
            ),
            ("dedup.minhash", lambda: D.minhash_lsh_pairs(docs).select("id_a", "id_b").toArrow()),
            ("pipeline.containment", lambda: P.containment_pairs(docs, threshold=0.6).toArrow()),
            ("pipeline.chunk_dedup", lambda: P.chunk_dedup(docs, chunk_tokens=16).toArrow()),
            ("pipeline.tfidf", lambda: P.tfidf_top_terms(docs, k=3).withColumnRenamed("rank", "rnk").toArrow()),
        ]
        ops += [("streaming.shard", self._shard)] * CURATION_SHARDS
        while True:
            yield [(layer, fn, {}) for layer, fn in ops]

    def before_unit(self, i: int) -> None:
        from sql_engine_spark.operators import dedup as D

        D.clear_shingle_index()

    def after_op(self, rec: dict) -> None:
        result = rec.pop("result")
        if rec["name"] != "streaming.shard":
            # Reduce results to digests now, so cycles do not pile up tables.
            if isinstance(result, pa.Table):
                rec["digest"] = digest(result, by_name=True)
            return
        rec["shard"] = self.landed[-1]
        self._calls += 1
        if self.listener is not None:
            # Wait for this call's progress events so none is credited
            # to the next shard.
            self.listener.wait_terminated(self._calls)
            n = len(self.listener.batches)
            if rec["span"] is not None:
                rec["batches"] = self.listener.batches[self._seen : n]
            self._seen = n

    def after_unit(self, i: int, traced: bool) -> None:
        if traced and self.persisted_bytes is None:
            self.persisted_bytes = self.tr.counters.persisted_bytes()

    def check(self) -> None:
        """Every operator result must equal the DuckDB answer of its
        matrix twin over the same corpus file. For the stream, the union
        of the shard outputs must equal the one-shot
        ``incremental_jaccard_pairs`` over corpus ∪ landed shards, and
        both must equal the registered x54 DuckDB oracle; each shard is
        checked on the pairs of its own new documents. Shards landed
        by the warm-up cycle take part in the union too."""
        from sql_engine_spark.matrix import ORACLE
        from sql_engine_spark.operators.pipeline import incremental_jaccard_pairs

        combined_dir = os.path.join(self.work_dir, "combined")
        os.makedirs(combined_dir)
        combined = os.path.join(combined_dir, "documents.parquet")
        gen.write_parquet(
            pa.concat_tables(
                [pq.read_table(os.path.join(self.data_dir, "documents.parquet"))]
                + [pq.read_table(self.shards[i]) for i in self.landed]
            ),
            combined,
        )

        def oracles() -> dict:
            db = DuckDB()
            try:
                db.parquet_views(self.data_dir, self.tables)
                want = {layer: digest(db.table(ORACLE[e]), by_name=True) for layer, e in DEDUP_ORACLES.items()}
                db.parquet_views(combined_dir, ["documents"])
                want["streaming"] = db.table(ORACLE["x54_incremental_dedup"])
                return want
            finally:
                db.close()

        with ThreadPoolExecutor(max_workers=1) as pool:
            want = pool.submit(oracles)
            one_shot = incremental_jaccard_pairs(
                self.spark.read.parquet(combined), threshold=0.8, new_mod=gen.NEW_MOD
            ).toArrow()
            streamed = self.spark.read.parquet(self.pairs_dir).select("id_new", "id_old", "jaccard").toArrow()
            want = want.result()
        oracle = want.pop("streaming")
        shard_recs = [r for r in self.records if r["name"] == "streaming.shard"]
        if digest(one_shot, by_name=True) != digest(oracle, by_name=True) and shard_recs:
            shard_recs[0]["error"] = "one-shot incremental_jaccard_pairs != duckdb x54 oracle"
        for rec in self.records:
            if "error" in rec:
                continue
            if rec["name"] in want:
                got, expected = rec["digest"], want[rec["name"]]
            elif rec["name"] == "streaming.shard":
                ids = pq.read_table(self.shards[rec["shard"]], columns=["doc_id"]).column(0)
                got, expected = (
                    digest(t.filter(pc.is_in(t.column("id_new"), ids)), by_name=True) for t in (streamed, oracle)
                )
            else:
                continue
            rec["rows_out"] = got[0]
            if got != expected:
                rec["error"] = f"(rows, digest) {got} != duckdb {expected}"


WORKLOADS = {w.name: w for w in (AdhocSql, Curation)}
