"""Regenerate BENCH/PLANS.md — physical-plan snapshots of the key queries.

Usage: python tools/dump_plans.py > /tmp/plans.md, then MERGE into
BENCH/PLANS.md: the committed file also carries per-round manually-added
sections (grouped KLL, bucketed/as-of/range joins, partition pruning —
everything after the IVF section) that this script does NOT regenerate.
A blind redirect erases that history (it happened in round 7; restored).
"""
# The generation logic lives inline in the committed BENCH/PLANS.md header;
# regenerate by running the script body from the repo root:
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

if __name__ == "__main__":
    from cms_topn_spark.spark_session import get_spark
    import __spark_entry__ as e

    spark = get_spark("plans", cpus=4)
    sf = "/root/testdata/sf0.01"
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString

    def show(title, df, note, grep=None, fmt="formatted"):
        plan = df._jdf.queryExecution().explainString(mode(fmt))
        print(f"## {title}\n\n{note}\n\n```")
        if grep:
            for line in plan.splitlines():
                if any(g in line for g in grep):
                    print(line.rstrip()[:200])
        else:
            print(plan[:2500])
        print("```\n")

    print("# PLANS — physical-plan snapshots (sf0.01, local[4])\n")
    from cms_topn_spark.operators.build import build_partials
    from cms_topn_spark.plans.flagship import flagship_factory, flagship_ingest
    from cms_topn_spark.sources.webpages import generate_webpages

    pages = generate_webpages(spark, 1000, partitions=4)
    pages.write.mode("overwrite").parquet("/tmp/_plans_wp.parquet")
    wp = spark.read.parquet("/tmp/_plans_wp.parquet")
    states = build_partials(wp.select("url", "text"), flagship_factory(), flagship_ingest)
    show("Flagship partial build", states, "one scan → composite states, no input shuffle")
    show("TPC-H q1", e.q_tpch_q1_pricing(spark, sf), "pushdown + pruning",
         grep=("PushedFilters", "ReadSchema", "WholeStageCodegen"))
    show("Nations revenue", e.q_top_nations_revenue(spark, sf), "broadcast joins",
         grep=("Join", "Exchange"), fmt="simple")

    from cms_topn_spark.operators import dedup, similarity

    docs = spark.read.parquet(sf + "/documents.parquet")
    show(
        "Jaccard DF-pruned",
        dedup.jaccard_pairs_pruned(docs, 0.8, max_df=20),
        "no per-document BroadcastExchange: AQE decides join strategy; the "
        "pruning groupBy shares the shingle shuffle key",
        grep=("Join", "Exchange"),
        fmt="simple",
    )
    # near-dup stage plans: both gate queries eagerly localCheckpoint their
    # result, so their query plans show only the post-checkpoint tail;
    # materialize=False is the plan the eager path runs before that
    show(
        "Near-dup stage: MinHash LSH pairs (single-pass features)",
        dedup.minhash_lsh_pairs(docs, 0.8, materialize=False),
        "ONE MapInArrow pass emits band keys + gram-hash sets; the exact "
        "verify joins candidate pairs straight back to the cached per-doc "
        "frame — no second corpus scan, no driver-side step",
        grep=("Join", "Exchange", "MapInArrow", "InMemory"),
        fmt="simple",
    )
    from pyspark.sql import functions as F

    idx_dir = tempfile.mkdtemp(prefix="plans_minhash_idx_")
    try:
        idx = dedup.minhash_index_build(docs.where(F.col("doc_id") % 3 != 0), idx_dir)
        batch = docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 50 == 0))
        show(
            "Near-dup stage: incremental near-dup against a bucketed index",
            dedup.incremental_near_dup(
                batch, idx, 0.8, materialize=False, index_dir=idx_dir
            ),
            "a small batch (doc_id % 3 == 0 and doc_id % 50 == 0), disjoint "
            "from the persisted index (doc_id % 3 != 0): its bucket set is a "
            "strict subset of the 256 key buckets — the regime where the "
            "bucketed bands.parquet read can prune to the buckets it touches",
            grep=("Join", "Exchange", "MapInArrow", "Scan"),
            fmt="simple",
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    show(
        "Cosine near-dup (bucketed)",
        similarity.cosine_near_dup_pairs_lsh(emb, 0.9, materialize=False),
        "LSH bucket self-join — candidate generation never broadcasts the "
        "corpus and never goes O(n²)",
        grep=("Join", "Exchange"),
        fmt="simple",
    )
    show(
        "Cosine exact pairs (block-GEMM, the demonstrated query)",
        similarity.cosine_near_dup_pairs_blocked(emb, 0.4, materialize=False),
        "block-pair cogroup: each vector shuffles to B+1 GEMM tasks — the "
        "whole lineage is scan → explode → two hash exchanges → "
        "FlatMapCoGroupsInPandas; NO collect, NO BroadcastExchange of the "
        "corpus anywhere",
        grep=("Exchange", "CoGroup", "FlatMap", "Scan", "Generate"),
        fmt="simple",
    )
    from cms_topn_spark.operators.sessions import sessionize

    show(
        "Sessionization (windows + agg, one exchange)",
        sessionize(spark.read.parquet(sf + "/events.parquet")),
        "lag/running-sum windows shuffle once on user_id; the (user_id, "
        "session_id) aggregation reuses that clustering — NO second exchange",
        grep=("Exchange", "Window", "HashAggregate", "Sort"),
        fmt="simple",
    )
    from cms_topn_spark.operators import pipeline

    show(
        "Curation pipeline (composed)",
        pipeline.curate(docs),
        "lang + quality + repetition gates fused into the scan projection; "
        "ONE exchange total (the md5-key dedup groupBy) — filters run before "
        "the shuffle, and the exchange carries digests + features, never text",
        grep=("Exchange", "Scan", "HashAggregate", "Project", "Filter"),
        fmt="simple",
    )
    from cms_topn_spark.operators import ivf

    show(
        "IVF ANN search",
        ivf.ivf_topk(emb, list(range(5)), k=3, n_cells=8, n_probe=2, iters=1),
        "probe-cells broadcast join onto the one-scan cell assignment; only "
        "the QUERY embeddings broadcast for the re-rank",
        grep=("Join", "Exchange"),
        fmt="simple",
    )

    # round-7 staging audit: executed FINAL-plan FileScan counts for the two
    # operators round 6 caught re-scanning the corpus, plus an unstaged
    # control. Staged operators pay their one corpus scan inside the
    # eager-checkpoint staging job, so the FINAL plan carries 0 FileScans;
    # tests/test_scan_counts.py pins the whole headline table.
    from cms_topn_spark.operators import textops
    from cms_topn_spark.plans.bucketing import scan_count

    print("## Executed-plan FileScan counts (round-7 staging audit)\n")
    print("| query | FileScans in executed final plan | round-6 defect |")
    print("|---|---|---|")
    audit = [
        ("tfidf_top_terms (tf staged)", textops.tfidf_top_terms(docs, k=3), "2 scans"),
        (
            "jaccard_pairs_pruned (sh + kept staged)",
            dedup.jaccard_pairs_pruned(docs, 0.8, max_df=20),
            "8 scans",
        ),
        ("tpch_q1_pricing (unstaged single-scan control)",
         e.q_tpch_q1_pricing(spark, sf), "—"),
    ]
    for name, df, was in audit:
        print(f"| {name} | {scan_count(df)} | {was} |")
    print()
    spark.stop()
