#!/usr/bin/env python
"""Scaling self-check: catch accidentally super-linear operators.

Replicates the fixture tables R× with shifted keys into a scratch
directory, then times headline queries COLD (fresh file scans, no warm
cache) at 1× and R× and reports per-query wall growth. An operator whose
growth exceeds the data growth is super-linear — the thing that works at
sf0.1 and dies at 100 TB. BASELINE.md records a run of this check; the
script is committed so the claim is reproducible round-over-round.

Replication is deliberately ADVERSARIAL for the dedup path: each replica
suffixes document text with a replica tag, so the corpus becomes
near-dup-HEAVY (R near-identical copies of every document) — the worst
case for LSH bucket blowup. Fact keys (orderkey, event_id, doc_id) shift
per replica so PK uniqueness holds; shared dimensions (customer, part,
supplier, nation, region) stay 1×, so per-key fan-in grows R× — the skew
direction, not the easy disjoint-key direction.

Usage:
    python scripts/scale_check.py [--sf-dir DIR] [--replication R]
                                  [--reps N] [--queries a,b,c] [--keep]

Prints one JSON line:
    {"metric": "scale_check", "replication": R,
     "queries": {name: {"base": s, "scaled": s, "growth": x}}, ...}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

#: Queries timed by default — the BASELINE.md self-check set: every
#: data-proportional headline query plus the training-data-pipeline ops
#: whose scale behavior is the engine's core claim.
DEFAULT_QUERIES = [
    "flagship",
    "op26_join_composite",
    "op28_self_join",
    "op43_hash_agg",
    "op44_distinct_agg",
    "ext_dedup_minhash",
    "ext_tfidf",
    "ext_sessionize_batch",
    "ext_ann_bruteforce",
    "ext_ann_bruteforce_np",
    "ext_bloom_semijoin",
    # Stateful layers: the lakehouse/IVM/stream designs claim KB-scale
    # control state at any data volume — growth here must track data
    # (fact inputs: orders for merge/IVM, events for the rollup), not
    # blow up with snapshot/version bookkeeping.
    "ext_merge_upsert_fact",
    "ext_ivm_join",
    "ext_stream_tumbling",
    # Round-5 additions: the staged text pipeline and the tokenizer
    # trainer (vocab-sized iterations over a corpus-sized build), plus
    # the banding planner (one pass over the signature relation).
    "ext_quality_filter_pipeline",
    "ext_bpe_merges",
    "ext_lsh_band_plan",
    # Late round-5 additions: cluster policy ops (components + aggregate
    # selection) and the corpus-mix similarity matrix.
    "ext_cluster_best_copy",
    "ext_split_leakage",
    "ext_source_similarity",
    # Session-continuation additions: corpus-derived temperature mixing
    # (stats broadcast + map-only realization) and the epoch shuffle
    # (one exchange + shard-local sorts — growth must track data, never
    # the global-sort blowup the op exists to avoid).
    "ext_temperature_mix",
    "ext_epoch_shuffle",
    # Round-6 addition: the fused dedup -> select -> gate -> mix ->
    # shuffle -> pack pipeline — the composition must inherit every
    # stage's scaling, not multiply their constants.
    "ext_corpus_prep_pipeline",
    # Round-10 additions: sequence-level exact-substring spans — the
    # replica text-suffix corpus is adversarial here (every replica
    # shares its whole body with the original, so duplicated-span MASS
    # grows ~R×); wall growth must still track data, not pairs.
    "ext_dup_span_extract",
    "ext_span_decontaminate",
    "ext_eval_decontaminate",
    "ext_stream_decontaminate",
    # Round-11 additions: the published-shape (k=10, min-span 50) span
    # variant — same lattice, wider shingles; the replica suffix still
    # makes every replica share its whole ≥50-token body with the
    # original — and the incremental index dedup, whose probe emits no
    # pairs (per-bucket min reduction) and so must stay ~linear even on
    # the near-dup-heavy replica corpus.
    "ext_dup_span_extract_long",
    "ext_inc_dedup_index",
    # Delete lifecycle twin: tombstone + bucket-partition compact +
    # probe — compaction cost must track the victim buckets, not the
    # corpus.
    "ext_inc_dedup_delete",
    # Gram-index decontamination: persisted eval-gram probe — join-based,
    # no broadcast bound; growth must track corpus grams.
    "ext_inc_span_decontaminate",
]

_KEY_SHIFT = 10**9  # orderkey/event space per replica
_DOC_SHIFT = 10**7  # doc_id space per replica (documents + embeddings)


def stage(
    spark: SparkSession, src_dir: str, dst_dir: str, replication: int
) -> None:
    """Write a replication×-scaled copy of every table to ``dst_dir`` in
    the catalog's ``<dir>/<name>.parquet`` layout.

    Facts are unioned replicas with shifted surrogate keys (FK pairs
    shift together: lineitem.l_orderkey tracks orders.o_orderkey);
    documents get a per-replica text suffix (near-dup-heavy corpus);
    dimensions copy through 1×. replication=1 stages a plain copy — the
    cold-scan baseline, so both timings read staged parquet written the
    same way (the comparison is data volume, not file layout).
    """
    from world_cup_duckdb_spark.sources.catalog import TABLES, table

    for name in TABLES:
        df = table(spark, src_dir, name)
        if name == "orders":
            out = _union_all(
                [df]
                + [
                    df.withColumn(
                        "o_orderkey", F.col("o_orderkey") + r * _KEY_SHIFT
                    )
                    for r in range(1, replication)
                ]
            )
        elif name == "lineitem":
            out = _union_all(
                [df]
                + [
                    df.withColumn(
                        "l_orderkey", F.col("l_orderkey") + r * _KEY_SHIFT
                    )
                    for r in range(1, replication)
                ]
            )
        elif name == "events":
            out = _union_all(
                [df]
                + [
                    df.withColumn(
                        "event_id", F.col("event_id") + r * _KEY_SHIFT
                    )
                    for r in range(1, replication)
                ]
            )
        elif name == "documents":
            out = _union_all(
                [df]
                + [
                    df.withColumn("doc_id", F.col("doc_id") + r * _DOC_SHIFT)
                    .withColumn("text", F.concat("text", F.lit(f" r{r}")))
                    for r in range(1, replication)
                ]
            )
        elif name == "embeddings":
            out = _union_all(
                [df]
                + [
                    df.withColumn("vec_id", F.col("vec_id") + r * _DOC_SHIFT)
                    for r in range(1, replication)
                ]
            )
        else:  # bounded dimensions stay 1× — fan-in grows, the hard case
            out = df
        out.write.mode("overwrite").parquet(f"{dst_dir}/{name}.parquet")


def _union_all(dfs):
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def time_queries(
    spark: SparkSession, sf_dir: str, names: list[str], reps: int
) -> dict[str, float]:
    """Min-of-reps cold wall time per query (build + full materialization
    via noop write, no warm cache)."""
    from world_cup_duckdb_spark.queries import REGISTRY

    out: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        out[name] = round(min(runs), 3)
    return out


def minhash_mass_ledger(spark: SparkSession, sf_dir: str) -> dict:
    """Output-mass accounting for the LSH pair path (VERDICT r8 item 3).

    Wall growth alone can't distinguish "the plan degraded" from "the
    adversarial corpus legitimately asks for more output": near-identical
    replicas share every band, so the DISTINCT-pair result grows
    QUADRATICALLY in replica count (a group of g copies is C(g,2) pairs)
    while the data grows linearly. This ledger separates the two by
    measuring the join's actual work alongside the wall:

      docs          — corpus rows (with the re-crawl copies the query adds)
      band_rows     — LSH band table rows (linear in docs by construction)
      buckets       — distinct (band, band_key) groups
      pair_mass     — Σ C(min(bucket, 64), 2): rows the capped bucket join
                      EMITS before DISTINCT — the true join output mass
      distinct_pairs— the query's result rows

    If wall growth ≤ pair-mass growth, the residual is candidate-pair
    output, not plan degradation; if wall outgrows pair mass, the plan
    (exchange shape, spill, skew) is the suspect.
    """
    from world_cup_duckdb_spark.operators.dedup import minhash_bands, with_recrawl
    from world_cup_duckdb_spark.queries import REGISTRY
    from world_cup_duckdb_spark.sources.catalog import table

    d = with_recrawl(table(spark, sf_dir, "documents").select("doc_id", "text"))
    bands = minhash_bands(d, num_hashes=8, band_size=2)
    sizes = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("n")
    )
    capped = F.least(F.col("n"), F.lit(64))
    agg = sizes.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.sum("n").alias("band_rows"),
        F.sum((capped * (capped - 1) / 2).cast("bigint")).alias("pair_mass"),
    ).collect()[0]
    return {
        "docs": d.count(),
        "band_rows": int(agg["band_rows"]),
        "buckets": int(agg["buckets"]),
        "pair_mass": int(agg["pair_mass"]),
        "distinct_pairs": REGISTRY["ext_dedup_minhash"].fn(spark, sf_dir).count(),
    }


def run_check(
    spark: SparkSession,
    sf_dir: str,
    replication: int,
    reps: int,
    names: list[str],
    scratch: str,
) -> dict:
    base_dir = os.path.join(scratch, "base")
    scaled_dir = os.path.join(scratch, f"x{replication}")
    stage(spark, sf_dir, base_dir, 1)
    stage(spark, sf_dir, scaled_dir, replication)
    base = time_queries(spark, base_dir, names, reps)
    scaled = time_queries(spark, scaled_dir, names, reps)
    return {
        "metric": "scale_check",
        "replication": replication,
        "sf_dir": sf_dir,
        "reps": reps,
        "queries": {
            n: {
                "base": base[n],
                "scaled": scaled[n],
                "growth": round(scaled[n] / base[n], 2) if base[n] else None,
            }
            for n in names
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--replication", type=int, default=8)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--keep", action="store_true",
                    help="keep the staged scratch tables")
    ap.add_argument("--mass", action="store_true",
                    help="also print the minhash output-mass ledger "
                         "(base vs scaled) — see minhash_mass_ledger")
    args = ap.parse_args()

    from world_cup_duckdb_spark import get_spark

    spark = get_spark("wcdbs-scale-check")
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        f"scalecheck-{uuid.uuid4().hex[:12]}",
    )
    try:
        report = run_check(
            spark,
            args.sf_dir,
            args.replication,
            args.reps,
            [n for n in args.queries.split(",") if n],
            scratch,
        )
        print(json.dumps(report))
        if args.mass:
            base_led = minhash_mass_ledger(
                spark, os.path.join(scratch, "base"))
            scaled_led = minhash_mass_ledger(
                spark, os.path.join(scratch, f"x{args.replication}"))
            mq = report["queries"].get("ext_dedup_minhash", {})
            print(json.dumps({
                "metric": "minhash_mass_ledger",
                "replication": args.replication,
                "base": base_led,
                "scaled": scaled_led,
                "growth": {
                    k: round(scaled_led[k] / base_led[k], 2)
                    for k in base_led if base_led[k]
                },
                "wall_growth": mq.get("growth"),
            }))
        worst = max(
            (q["growth"] or 0) for q in report["queries"].values()
        )
        if worst > args.replication:
            print(
                f"WARNING: max growth {worst}× exceeds data growth "
                f"{args.replication}× — super-linear operator",
                file=sys.stderr,
            )
    finally:
        if not args.keep:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
