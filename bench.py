"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "sf": ..., "docs": n, "docs_per_sec": r, "cores": c}

Headline set = the real workload (synthetic-corpus extraction, then
extraction+assembly) plus the heaviest relational/dedup/ANN operators
over the sf tables. The extraction corpus is generated on executors
(deterministic, seeded) and sized by the sf dir name.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entry
    from indu_doc_transformer_spark.operators import assembly as asm
    from indu_doc_transformer_spark.operators import extraction as ex
    from indu_doc_transformer_spark.plans.session import get_spark
    from indu_doc_transformer_spark.sources.corpus import corpus_df, docs_for_sf, sf_from_dir

    sf = sf_from_dir(sf_dir)
    # SPARK_GRAFT_BENCH_DOCS sizes the extraction corpus independently
    # (the scaling protocol needs a compute-bound run: at 10k tiny docs
    # fixed scheduling overhead swamps the kernel and efficiency is
    # meaningless)
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", docs_for_sf(sf)))
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        app_name="indu-doc-bench",
        # binary-blob tables need small splits to feed every core
        extra_conf={"spark.sql.files.maxPartitionBytes": "12m"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    # sub-3s stages are scheduling-noise-dominated at this sf (rows
    # swung up to 1.8x between rounds on identical plans): they run
    # best-of-N with the (min,max) spread recorded so cross-round
    # comparison can tell regression from noise. Heavy stages (>3s)
    # run best-of-2 since round 6: the r5 verdict flagged an
    # unattributable +13% single-run swing on q_decontaminate — every
    # stage now carries a spread, at ~+40% bench wall-clock.
    micro_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    heavy_runs = int(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_RUNS", "2"))

    def timed(name, fn, into=None, runs=1):
        vals = []
        out = None
        for _ in range(runs):
            t0 = time.time()
            out = fn()
            vals.append(time.time() - t0)
        d = timings if into is None else into
        lo, hi = round(min(vals), 3), round(max(vals), 3)
        seen_before = name in d
        if seen_before:
            # phase re-timed by a repeated enclosing stage (assemble
            # breakdown): merge so the spread covers every observation
            lo0, hi0 = spreads.get(name, [d[name], d[name]])
            lo, hi = min(lo0, lo), max(hi0, hi)
        d[name] = lo
        if runs > 1 or seen_before:
            spreads[name] = [lo, hi]
        return out

    # warm every python worker through the real kernel path (module
    # import + Arrow serde) so the timed run measures steady state
    ex.extract(corpus_df(spark, cpus * 4, partitions=cpus * 2)).count()
    # warm the assembly codegen path the same way: janino compiles the
    # 9 request-branch classes ONCE per JVM (measured ~4-5s; the traced
    # run `perfbench/run.py --workload pipeline --trace 1` splits the
    # assembly plan build from its jobs) — the steady-state stage cost
    # is what the benchmark measures
    _wt = asm.assemble(ex.rows_table(ex.extract(corpus_df(spark, 64, partitions=4))))
    _ = _wt["xtargets"].count() + _wt["connections"].count()
    spark.catalog.clearCache()

    # production layout: the corpus lives on disk bucket-partitioned by
    # url-hash (written untimed); extraction reads it with small splits
    import tempfile

    workdir = tempfile.mkdtemp(prefix="bench_")
    corpus_path = f"{workdir}/corpus"
    corpus_df(spark, n_docs, partitions=cpus * 2).write.mode("overwrite").parquet(
        corpus_path
    )
    docs = spark.read.option("mergeSchema", "false").parquet(corpus_path)

    timed("extract", lambda: ex.extract(docs).count(), runs=micro_runs)

    extracted_path = f"{workdir}/extracted"
    timed(
        "extract_write",
        lambda: ex.extract(docs).write.mode("overwrite").parquet(extracted_path),
        runs=micro_runs,
    )

    # assemble, attributed: requests stage (9-branch plan build + the
    # eager coalesce+localCheckpoint materialization) vs each finisher
    # count — so a drift in the dominant phase is assignable instead of
    # a single opaque number. `assemble` = the sum, same work as r<=4.
    breakdown: dict[str, float] = {}

    def assemble_stage():
        extracted = spark.read.parquet(extracted_path)
        rows_t = ex.rows_table(extracted)
        tables = timed(
            "requests_build_checkpoint",
            lambda: asm.assemble(rows_t),
            into=breakdown,
        )
        timed("xtargets_finisher", lambda: tables["xtargets"].count(), into=breakdown)
        timed(
            "connections_finisher",
            lambda: tables["connections"].count(),
            into=breakdown,
        )

    timed("assemble", assemble_stage, runs=heavy_runs)

    qs = entry.queries()
    for name, runs in (
        ("q_pricing_summary", micro_runs),
        ("q_top_orders", micro_runs),
        ("q_region_volume", micro_runs),
        ("q_sessionize", micro_runs),
        ("q_minhash_lsh_pairs", heavy_runs),
        ("q_ann_bruteforce", micro_runs),
        ("q_simhash", micro_runs),
    ):
        timed(name, lambda n=name: qs[n](spark, sf_dir).count(), runs=runs)

    total = round(sum(timings.values()), 3)
    extract_sec = timings["extract"]

    # round-3 pipeline operators, timed SEPARATELY (not in `value`, so
    # the headline total stays comparable across rounds)
    extra: dict[str, float] = {}
    for name, runs in (
        ("q_decontaminate", heavy_runs),
        ("q_line_dedup", micro_runs),
        ("q_curation_funnel", heavy_runs),
        ("q_dup_span_removal", micro_runs),  # r5 addition: extras only,
        # so the headline `value` stays comparable across rounds
    ):
        timed(name, lambda n=name: qs[n](spark, sf_dir).count(), into=extra, runs=runs)

    # steady-state COMPUTE-BOUND extraction throughput — the field to
    # compare across rounds. The sf-sized extract above is scheduling-
    # dominated at 10k tiny docs (the recorded value swung 2.3x on
    # byte-identical code between rounds 2 and 3); this stage sizes the
    # corpus so kernel work dominates (same protocol as
    # scripts/scaling_bench.py, smaller N) and takes best-of-2 with
    # warm workers + page cache. Untimed for the headline `value`.
    tput_docs = int(os.environ.get("SPARK_GRAFT_BENCH_TPUT_DOCS", "50000"))
    tput_path = f"{workdir}/tput_corpus"
    corpus_df(spark, tput_docs, partitions=cpus * 2).write.mode("overwrite").parquet(
        tput_path
    )
    tdocs = spark.read.option("mergeSchema", "false").parquet(tput_path)
    ex.extract(tdocs).count()  # warm page cache for this table
    best = None
    for _ in range(2):
        t0 = time.time()
        ex.extract(tdocs).count()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    extra["throughput_extract"] = round(best, 3)

    print(
        json.dumps(
            {
                "metric": "extraction+assembly+operator wall-clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "assemble_breakdown_sec": breakdown,
                # (min,max) over best-of-N stages: a cross-round ratio
                # outside the recorded spread is signal, inside is noise
                "spread_sec": spreads,
                "micro_runs": micro_runs,
                "extra_queries_sec": extra,
                "sf": sf,
                "docs": n_docs,
                # compute-bound steady state (comparable to the scaling
                # bench); the sf-sized figure keeps its own honest name
                "docs_per_sec": round(tput_docs / best, 1),
                "docs_per_sec_per_core": round(tput_docs / best / cpus, 1),
                "throughput_docs": tput_docs,
                "docs_per_sec_sf_sized": round(n_docs / extract_sec, 1)
                if extract_sec
                else None,
                "cores": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
