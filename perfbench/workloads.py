"""The benchmark's workloads. Each one stages its inputs into the program,
runs one operation at a time (a closed loop from a single client), and
checks every operation's output against an independent DuckDB
computation over the same generated files. Only the program's public
functions are timed; checks run outside the timed intervals.

Why these three: ``corpus_prep`` is per-row CPU in the dedup, text and
similarity operators over a cached catalog; ``wc_elt`` is the
reference's own ELT, tiny data but many small jobs in the World-Cup plans
and validators; ``cdc_ingest`` is the only one that writes, merging event
batches into a versioned table beside snapshot reads.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from check import Oracle, digest
from gen import CATALOG_SIZES

CATALOG = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings")


@dataclass
class Op:
    """One timed operation: its latency, the input rows it consumed,
    whatever the check needs, and the timed read that followed it."""
    seconds: float
    rows_in: int
    payload: object
    read_s: float = 0.0


def _registry():
    from world_cup_duckdb_spark import queries

    return queries.REGISTRY


class Workload:
    """Base: subclasses set ``name`` and implement stage/op/check."""

    name = ""
    #: Operations per pass; a run only stops at a pass boundary.
    pass_len = 1
    #: Untimed operations before the timed passes.
    warmup_ops = 0

    def __init__(self, data_dir: str, work_dir: str, tracer):
        self.data = data_dir
        self.work = work_dir
        self.tr = tracer

    def stage(self, spark) -> None:
        """Program-side staging; timed as part of set-up."""

    def begin_pass(self, spark) -> None:
        """Untimed preparation before each timed pass."""

    def op(self, spark, i: int) -> Op:
        raise NotImplementedError

    def check(self, i: int, op: Op) -> str | None:
        """None when the output is right, else what was wrong."""
        raise NotImplementedError

    def finish(self, spark) -> str | None:
        """Whole-run check after the loop; None when right."""
        return None

    def report(self) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        return {}

    def layer_report(self) -> dict[str, tuple[float, str]]:
        """Metrics of this workload's own layers, from the traced
        operations' spans: name -> (value, unit)."""
        return {}

    def _mean_span(self, name: str, scale: float = 1.0) -> float:
        s, n = self.tr.totals(name)
        return scale * s / max(1, n)

    def close(self) -> None:
        pass


def _cached_mb(spark) -> float:
    """Storage memory held by persisted data, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 2**20


#: The training-data chain, each step with the layer it exercises.
#: ext_corpus_prep_pipeline is left out: its pass and its DuckDB oracle
#: add ~13 s to a run, more than the run budget holds.
CORPUS_CHAIN = (
    ("ext_dedup_minhash", "dedup"),
    ("ext_tfidf", "text"),
    ("ext_quality_filter_pipeline", "text"),
    ("ext_ann_bruteforce", "similarity"),
)
#: Query vectors ext_ann_bruteforce ranks neighbours for.
ANN_QUERIES = 10
#: The recrawl copy ext_dedup_minhash adds shifts ids by this much.
RECRAWL_OFFSET = 1_000_000


class CorpusPrep(Workload):
    """Training-data prep over a generated star-schema catalog warmed with
    ``catalog.warm_cache``: one operation is one pass of CORPUS_CHAIN. A
    corpus job makes many passes in one process, and in a new JVM the
    first passes run up to a third slower than later ones, so two
    untimed passes precede the timed ones."""

    name = "corpus_prep"
    warmup_ops = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.oracle = Oracle(self.data, list(CATALOG))
        self.warm_s = 0.0
        self.cached_mb = 0.0
        self.docs = CATALOG_SIZES["documents"]
        pairs = self.oracle.frame(
            f"SELECT doc_a, doc_b FROM '{self.data}/neardup_pairs.parquet'")
        self.planted = set(zip(pairs.doc_a.tolist(), pairs.doc_b.tolist()))
        self.recall: list[float] = []
        self.precision: list[float] = []
        self.candidates: list[int] = []

    def stage(self, spark):
        from world_cup_duckdb_spark.sources import catalog

        t0 = time.perf_counter()
        catalog.warm_cache(spark, self.data)
        self.warm_s = time.perf_counter() - t0
        self.cached_mb = _cached_mb(spark)

    def _query(self, spark, key: str):
        """Build then materialize one registry query; returns (s, frame)."""
        fn = _registry()[key].fn
        t0 = time.perf_counter()
        with self.tr.span("queries.build", key=key):
            df = fn(spark, self.data)
        with self.tr.span("queries.exec", key=key):
            frame = df.toPandas()
        return time.perf_counter() - t0, frame

    def _check_query(self, key: str, frame) -> str | None:
        want = self.oracle.expected(key, _registry()[key].oracle)
        got = digest(frame)
        if got != want:
            return f"{key}: rows/hash {got[0]}/{got[1][:12]} != oracle {want[0]}/{want[1][:12]}"
        return None

    def op(self, spark, i):
        total, frames = 0.0, {}
        for key, layer in CORPUS_CHAIN:
            with self.tr.span(layer):
                s, frames[key] = self._query(spark, key)
            total += s
        return Op(total, self.docs, frames)

    def check(self, i, op):
        bad = "; ".join(p for key, frame in op.payload.items()
                        if (p := self._check_query(key, frame))) or None
        pairs = op.payload["ext_dedup_minhash"]
        found = set(zip(pairs.doc_a.tolist(), pairs.doc_b.tolist()))
        self.recall.append(len(self.planted & found) / max(1, len(self.planted)))
        base = lambda d: d % RECRAWL_OFFSET  # noqa: E731
        true = sum(1 for a, b in found
                   if base(a) == base(b) or (min(base(a), base(b)), max(base(a), base(b))) in self.planted)
        self.candidates.append(len(found))
        self.precision.append(true / max(1, len(found)))
        return bad

    def report(self):
        return {"neardup_recall": (float(np.median(self.recall)), "ratio")}

    def close(self):
        self.oracle.close()

    def layer_report(self):
        text_s, _ = self.tr.totals("text")
        sim_s, passes = self.tr.totals("similarity")
        passes = max(1, passes)
        return {
            "catalog.warm_cache_s": (self.warm_s, "s"),
            "catalog.cached_mb": (self.cached_mb, "MB"),
            "queries.build_ms": (self._mean_span("queries.build", 1000), "ms"),
            "queries.exec_ms": (self._mean_span("queries.exec", 1000), "ms"),
            "dedup.candidate_pairs": (float(np.median(self.candidates)), "count"),
            "dedup.candidate_precision": (float(np.median(self.precision)), "ratio"),
            "text.ms_per_kdoc": (1000 * text_s / passes / (self.docs / 1000), "ms"),
            "similarity.ms_per_kquery": (1000 * sim_s / passes / (ANN_QUERIES / 1000), "ms"),
        }


#: The tables wc_elt writes, one per operation, cycled as a pass: one
#: table with one foreign key, one with three and the five-key ``match``
#: fact, so every run measures the same mix whatever its speed.
WC_TABLES = ("tournament", "team_appearance", "match")


class WcElt(Workload):
    """The reference ELT: one operation builds the 27-table World-Cup DAG
    from the seed-permuted raw rows and does a validated write of one
    table of WC_TABLES. An ELT pass writes every table in one process, so
    most writes are warm: one untimed write precedes the timed ones."""

    name = "wc_elt"
    pass_len = len(WC_TABLES)
    warmup_ops = 1

    def __init__(self, *a):
        super().__init__(*a)
        import duckdb

        from world_cup_duckdb_spark.plans import CONSTRAINTS

        self.constraints = CONSTRAINTS
        manifest = duckdb.sql(_registry()["wc_build_manifest"].oracle).df()
        self.manifest = {r.table_name: (int(r.n_rows), r.pk_cols, int(r.n_fks))
                         for r in manifest.itertuples()}
        self.raw_files = sorted(f for f in os.listdir(f"{self.data}/raw"))
        self.writes = 0
        self.raw_rows = sum(
            int(duckdb.sql(f"SELECT count(*) FROM '{self.data}/raw/{f}'").fetchone()[0])
            for f in self.raw_files)

    def stage(self, spark):
        self.raw = {f.removesuffix(".parquet"): spark.read.parquet(f"{self.data}/raw/{f}")
                    for f in self.raw_files}

    def op(self, spark, i):
        from world_cup_duckdb_spark.operators.validators import validated_write
        from world_cup_duckdb_spark.plans import build_worldcup

        name = WC_TABLES[i % len(WC_TABLES)]
        pk, fks = self.constraints[name]
        self.writes += 1
        out = f"{self.work}/wc/{self.writes:05d}-{name}"
        t0 = time.perf_counter()
        with self.tr.span("plans.build_worldcup"):
            tables = build_worldcup(spark, self.raw)
            if self.tr.active:
                tables[name].count()
        with self.tr.span("validators.validated_write"):
            validated_write(tables[name], out, pk=list(pk),
                            fks=[(tables[parent], on) for on, parent in fks])
        return Op(time.perf_counter() - t0, self.raw_rows, (name, out))

    def check(self, i, op):
        import duckdb

        name, out = op.payload
        pk, fks = self.constraints[name]
        n, distinct = duckdb.sql(
            f"SELECT count(*), count(DISTINCT ({', '.join(pk)})) FROM '{out}/*.parquet'"
        ).fetchone()
        got = (int(n), ",".join(pk), len(fks))
        shutil.rmtree(out, ignore_errors=True)
        if got != self.manifest[name] or distinct != n:
            return f"{name}: manifest {got} (distinct pk {distinct}) != oracle {self.manifest[name]}"
        return None

    def layer_report(self):
        return {
            "plans.build_worldcup_s": (self._mean_span("plans.build_worldcup"), "s"),
            "validators.validated_write_s": (
                self._mean_span("validators.validated_write"), "s"),
        }


class CdcIngest(Workload):
    """Writes beside reads: one operation lands one event batch and runs
    one availableNow stream_upsert_table merge; a snapshot read follows.
    Every pass starts from a fresh table holding batch 0, so every pass
    merges the same batches into the same state."""

    name = "cdc_ingest"
    #: Five merges per pass, so each run's medians have five samples.
    pass_len = 5
    #: An ingest service merges for hours in one JVM; the first pass,
    #: while the JIT warms up, takes up to three times longer, so it is
    #: left untimed.
    warmup_ops = pass_len

    def __init__(self, *a):
        super().__init__(*a)
        self.batches = sorted(os.listdir(f"{self.data}/batches"))
        self.tables = 0
        self.landed: list[str] = []
        self.read_ms: list[float] = []
        self.progress: list[dict] = []
        self.run_ids: list[str] = []

    def _land(self, k: int) -> None:
        src = f"{self.data}/batches/{self.batches[k]}"
        tmp = f"{self.inbox}/.{self.batches[k]}"
        shutil.copyfile(src, tmp)
        os.rename(tmp, f"{self.inbox}/{self.batches[k]}")
        self.landed.append(src)

    def _stream(self, spark) -> float:
        from world_cup_duckdb_spark.streaming import read_event_stream, stream_upsert_table

        t0 = time.perf_counter()
        with self.tr.span("streaming.stream_upsert_table") as attrs:
            q = stream_upsert_table(read_event_stream(spark, self.inbox), self.table, self.ckpt)
            q.awaitTermination()
            attrs["run_id"] = str(q.runId)
        s = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.progress.extend(q.recentProgress)
        self.run_ids.append(str(q.runId))
        return s

    def _fresh_table(self, spark) -> None:
        """A new inbox, table and checkpoint; the first checkpoint merges
        batch 0 into the empty table."""
        base = f"{self.work}/cdc{self.tables}"
        self.tables += 1
        self.inbox, self.table, self.ckpt = f"{base}/in", f"{base}/table", f"{base}/checkpoint"
        os.makedirs(self.inbox)
        self.landed = []
        self._land(0)
        self._stream(spark)

    def stage(self, spark):
        self._fresh_table(spark)

    def begin_pass(self, spark):
        if len(self.landed) != 1:
            shutil.rmtree(os.path.dirname(self.table), ignore_errors=True)
            self._fresh_table(spark)

    def op(self, spark, i):
        from pyspark.sql import functions as F

        from world_cup_duckdb_spark.operators.lakehouse import read_table

        k = len(self.landed)
        if k >= len(self.batches):
            raise RuntimeError("out of generated batches")
        self._land(k)
        s = self._stream(spark)
        t0 = time.perf_counter()
        with self.tr.span("lakehouse.read_table"):
            snap = read_table(spark, self.table).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
                F.max("ts").alias("max_ts"),
                F.sum("event_id").alias("id_sum"),
            ).toPandas()
        read_s = time.perf_counter() - t0
        self.read_ms.append(1000 * read_s)
        n_events = _parquet_rows(self.landed[-1])
        return Op(s, n_events, (list(self.landed), snap), read_s)

    _LATEST = """
        SELECT user_id, event_type, ts, value, event_id FROM read_parquet({files})
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) = 1
    """

    def check(self, i, op):
        import duckdb

        files, snap = op.payload
        want = duckdb.sql(f"""
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
                   max(ts) AS max_ts, CAST(sum(event_id) AS BIGINT) AS id_sum
            FROM ({self._LATEST.format(files=files)}) GROUP BY event_type
        """).df()
        if digest(snap) != digest(want):
            return f"snapshot after batch {len(files) - 1} != DuckDB keep-latest"
        return None

    def finish(self, spark):
        import duckdb

        from world_cup_duckdb_spark.operators.lakehouse import latest_version, read_table

        self.stored_ratio = self._stored_ratio()
        self.versions = latest_version(self.table) + 1
        got = read_table(spark, self.table).toPandas()
        want = duckdb.sql(self._LATEST.format(files=self.landed)).df()
        if digest(got) != digest(want):
            return "final table != DuckDB keep-latest over all ingested events"
        return None

    def _stored_ratio(self) -> float:
        stored = sum(os.path.getsize(os.path.join(r, f))
                     for r, _, fs in os.walk(self.table) for f in fs)
        return stored / sum(os.path.getsize(f) for f in self.landed)

    def report(self):
        return {"read_p50_ms": (float(np.median(self.read_ms)), "ms"),
                "stored_bytes_per_user_byte": (self.stored_ratio, "ratio")}

    def layer_report(self):
        traced = {s.attrs["run_id"] for s in self.tr.spans if "run_id" in s.attrs}
        prog = [p for p in self.progress if p["runId"] in traced]
        add = [p["durationMs"].get("addBatch", 0) for p in prog]
        over = [p["durationMs"].get("triggerExecution", 0) - a for p, a in zip(prog, add)]
        return {
            "streaming.add_batch_ms": (float(np.median(add)) if add else 0.0, "ms"),
            "streaming.trigger_overhead_ms": (float(np.median(over)) if over else 0.0, "ms"),
            "lakehouse.read_table_ms": (self._mean_span("lakehouse.read_table", 1000), "ms"),
            "lakehouse.write_bytes_per_user_byte": (self.stored_ratio, "ratio"),
            "lakehouse.versions": (float(self.versions), "count"),
        }


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


WORKLOADS = {w.name: w for w in (CorpusPrep, WcElt, CdcIngest)}
