"""Contract tests for `__spark_entry__` (entry/queries/oracle_sql), the
programmatic surface over the query registry, and for the pure-build
property of the queries whose built plans a caller may reuse.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Queries whose build is a pure lazy plan: building one runs no Spark
#: job (eager staging, counts, checkpoints) and registers no tracked
#: persist, so a caller holding the DataFrame may re-execute it without
#: rebuilding, and a build+execute timing charges all engine work to
#: execution.
PURE_PLAN = frozenset({
    "flagship",
    "op26_join_composite",
    "op28_self_join",
    "op43_hash_agg",
    "op44_distinct_agg",
    "op45_rank_window",
    "op46_analytic_window",
    "op47_topk",
    "op48_sort",
    "op49_rollup",
    "ext_sessionize_batch",
    "ext_ann_bruteforce",
    "ext_tfidf",
    "ext_quality_filter_pipeline",
    "ext_bloom_semijoin",
    "ext_dedup_minhash",
    "ext_url_dedup",
    "ext_hybrid_rrf",
    "ext_mmr_diversify",
    "ext_hapax_stats",
    "ext_dup_span_extract",
    "ext_span_decontaminate",
})


def test_spark_entry_contract(spark):
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    from world_cup_duckdb_spark.queries import REGISTRY

    qs = e.queries()
    oracles = e.oracle_sql()
    # queries() is every registry key that carries an oracle, in
    # registration order, and oracle_sql() has exactly those keys: no
    # exported key can only get a rows-only check.
    oracled = [n for n, q in REGISTRY.items() if q.oracle is not None]
    assert qs and list(qs) == oracled
    assert list(oracles) == oracled
    # entry() returns a DataFrame with rows on the smoke fixture.
    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns


def test_pure_plan_whitelist_is_actually_pure(spark, sf_dir):
    """Building a PURE_PLAN member does ZERO engine work: no Spark job
    at build time and no tracked persist registered (a warm
    InMemoryRelation reused across executions would time a cache hit,
    not the query). This walk fails the whitelist the moment a
    member's build stops being pure."""
    import world_cup_duckdb_spark.queries as Q

    tracker = spark.sparkContext._jsc.sc().statusTracker()
    # Prime the catalog with a first build of every member: the FIRST
    # table touch of a session runs one-time catalog jobs (file
    # listing, the events nanos conversion probe) that are session
    # setup, not per-query work.
    for name in sorted(PURE_PLAN):
        assert name in Q.REGISTRY, name
        Q.REGISTRY[name].fn(spark, sf_dir)
    offenders = []
    for name in sorted(PURE_PLAN):
        Q.release_tracked_persists()
        before = len(list(tracker.getJobIdsForGroup(None)))
        Q.REGISTRY[name].fn(spark, sf_dir)
        jobs = len(list(tracker.getJobIdsForGroup(None))) - before
        persists = len(Q._TRACKED_PERSISTS)
        if jobs or persists:
            offenders.append((name, f"jobs={jobs}", f"persists={persists}"))
    Q.release_tracked_persists()
    assert offenders == [], offenders


def test_registry_import_reads_no_repo_file():
    """Importing the registry opens no file of the repo outside the
    package: the exported key set and order depend on the code alone."""
    pkg = os.path.join(REPO, "world_cup_duckdb_spark") + os.sep
    probe = (
        "import os, sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, a: opened.append(a[0])"
        " if ev == 'open' and isinstance(a[0], str) else None)\n"
        "import world_cup_duckdb_spark.queries\n"
        "repo, pkg = sys.argv[1], sys.argv[2]\n"
        "for p in opened:\n"
        "    p = os.path.abspath(p)\n"
        "    if p.startswith(repo + os.sep) and not p.startswith(pkg):\n"
        "        print(p)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, REPO, pkg],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout == "", out.stdout
