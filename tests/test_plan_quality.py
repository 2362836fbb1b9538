"""Physical-plan quality gates (SURVEY.md §4.2; the 100 TB story).

Correct results from a bad plan don't survive a 100× scale-up — these
tests pin the plan properties that matter: predicate/projection
pushdown to parquet, broadcast joins for bounded dims, partial (map-
side) aggregation, top-k specialization, and no Python row-loop in
JVM-only queries."""

from __future__ import annotations

import pytest

from kinesis_handler_spark.registry import all_queries


def plan_of(
    spark, name: str, sf_dir: str, mode: str = "formatted", execute: bool = False
) -> str:
    df = all_queries()[name](spark, sf_dir)
    if execute:
        # AQE finalizes (and codegen-annotates) the plan only on execution;
        # collect() (not count(), which plans separately) runs THIS plan
        df.collect()
    jqe = df._jdf.queryExecution()
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(jqe, mode)


@pytest.fixture(scope="module")
def inventory_plans(spark, sf_dir) -> dict[str, dict[str, str]]:
    """Every inventory query's DataFrame built ONCE, with the two plan
    strings the whole-inventory sweeps read: ``simple`` (physical) and
    ``analyzed`` (logical, where broadcast hints are visible)."""
    explain = spark._jvm.PythonSQLUtils.explainString
    plans = {}
    for name, build in sorted(all_queries().items()):
        jqe = build(spark, sf_dir)._jdf.queryExecution()
        plans[name] = {
            "simple": explain(jqe, "simple"),
            "analyzed": jqe.analyzed().toString(),
        }
    return plans


def test_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, "scan_filter_project", sf_dir)
    assert "PushedFilters" in plan
    assert "IsNotNull(o_orderstatus)" in plan
    assert "EqualTo(o_orderstatus,O)" in plan
    assert "GreaterThan(o_totalprice" in plan
    # projection pruning: the 3 selected columns only
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_orderpriority" not in read_schema


def test_date_filter_pushdown(spark, sf_dir):
    plan = plan_of(spark, "filter_pushdown_dates", sf_dir)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_star_join_broadcasts_bounded_dims(spark, sf_dir):
    plan = plan_of(spark, "join_broadcast_dims", sf_dir)
    # nation and region are explicitly broadcast — never a shuffle for
    # bounded dims at any scale factor
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastExchange" in plan


def test_flagship_agg_is_partial_then_final(spark, sf_dir):
    plan = plan_of(spark, "agg_groupby_pricing", sf_dir)
    # map-side combine: HashAggregate appears both below and above the
    # exchange — shuffle moves O(groups), not O(rows)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan
    # codegen markers appear only in the AQE-finalized plan
    final = plan_of(spark, "agg_groupby_pricing", sf_dir, execute=True)
    assert "codegen id" in final


def test_global_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, "limit_topk", sf_dir)
    # TakeOrderedAndProject: per-partition local top-k, no global sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_grouped_topk_prunes_with_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, "topk_per_group", sf_dir)
    # rank<=k filter pushed into the window sort (Spark 3.5+ rewrite)
    assert "WindowGroupLimit" in plan


def test_jvm_only_queries_have_no_python_stage(inventory_plans):
    # every declared query except the pandas-UDF/UDAF/mapInPandas surface
    # must stay fully JVM-side (no BatchEvalPython / ArrowEvalPython /
    # FlatMapGroupsInPandas operators)
    python_ok = {
        "udf_transformer",
        "udaf_grouped_pandas",
        "multimodal_features",
        "dedup_embedding_cosine",  # blocked-GEMM scorer (numpy via mapInPandas)
        "sim_ann_ivf",  # IVF assignment + exact re-rank are GEMMs
        "sim_ann_ivf_search",  # same pipeline, search-grade nprobe
        "sim_ann_incremental",  # batch assignment GEMM + cogrouped re-rank
        "dedup_embedding_ann",  # IVF candidates + exact in-cell GEMM
        "embed_quantize",  # dense per-element math (numpy via mapInPandas)
        "sim_ann_lsh",  # signature GEMM + numpy re-rank dot
        "embed_random_projection",  # JL sign-matrix GEMM (numpy via mapInPandas)
        "multimodal_decode_bmp",  # real numpy BMP decode (mapInPandas)
        "multimodal_decode_wav",  # real numpy WAV/PCM decode (mapInPandas)
        "multimodal_decode_png",  # real stdlib-zlib PNG decode (mapInPandas)
        "multimodal_resize",  # PNG decode + numpy box downsample (mapInPandas)
        "multimodal_decode_jpeg",  # real baseline-JPEG decode (mapInPandas)
    "multimodal_decode_gif",  # real GIF/LZW decode (mapInPandas)
    "multimodal_decode_adpcm",  # real IMA-ADPCM decode (mapInPandas)
        "multimodal_decode_video",  # MJPEG-AVI walk + per-frame JPEG (mapInPandas)
        "source_avro_scan",  # hand-rolled Avro OCF decode (mapInPandas)
        "text_heavy_hitters",  # Misra-Gries candidate pass (mapInPandas)
        "pack_greedy_bins",  # sequential bin-fill fold (applyInPandas)
        "embed_pca",  # moment + projection GEMMs (numpy via mapInPandas)
        "tokenizer_bpe_train",  # one-time codepoint symbolization pass
        "tokenizer_bpe_apply",  # vocab-sized encode pass (mapInPandas)
        "multimodal_frame_sample",  # MJPEG walk + sampled-frame decode
    }
    offenders = []
    for name, plans in inventory_plans.items():
        if name in python_ok:
            continue
        plan = plans["simple"]
        if any(
            marker in plan
            for marker in ("EvalPython", "FlatMapGroupsInPandas", "MapInPandas")
        ):
            offenders.append(name)
    assert not offenders, f"Python stages in JVM-only queries: {offenders}"


def _broadcast_hint_targets(analyzed_plan: str):
    """For each ResolvedHint(broadcast) node in an analyzed logical
    plan, yield the first node beneath it that settles what is being
    broadcast: an ``Aggregate``/``LocalRelation`` (a reduced, bounded
    derived frame — always fine) or a parquet ``Relation`` (a base
    table — must be a bounded dim)."""
    lines = analyzed_plan.splitlines()
    for i, ln in enumerate(lines):
        if "ResolvedHint" not in ln or "broadcast" not in ln:
            continue
        for nxt in lines[i + 1 :]:
            # Deduplicate (DataFrame.distinct) reduces like Aggregate
            # does — e.g. the Misra-Gries candidate set in
            # text_heavy_hitters (bounded at 2048/partition BEFORE the
            # distinct); same acceptance strength as the Aggregate rule.
            if (
                "Aggregate" in nxt
                or "Deduplicate" in nxt
                or "LocalRelation" in nxt
            ):
                yield ("derived", nxt)
                break
            if "Relation" in nxt and "parquet" in nxt:
                yield ("relation", nxt)
                break


def test_no_explicit_broadcast_of_sf_scaling_tables(inventory_plans):
    # SCALE.md broadcast policy: an explicit F.broadcast() hint is
    # allowed only on geography-BOUNDED dims (region: 5 rows, nation:
    # 25 rows — fixed by the data model at every scale factor) or on
    # aggregate-reduced derived frames.  part/supplier/customer/orders/
    # lineitem all grow linearly with SF (part 200→20,000 and supplier
    # 10→1,000 across sf0.001→sf0.1); a hard hint on them forces an
    # un-spillable broadcast build at 100× — the exact OOM class AQE
    # exists to prevent.  Leave those joins unhinted and let AQE
    # auto-broadcast under threshold.
    bounded_cols = ("n_nationkey", "r_regionkey")
    offenders = []
    for name, plans in inventory_plans.items():
        for kind, line in _broadcast_hint_targets(plans["analyzed"]):
            if kind == "derived":
                continue
            if not any(col in line for col in bounded_cols):
                offenders.append(f"{name}: broadcast of {line.strip()[:70]}")
    assert not offenders, f"broadcast hints on SF-scaling tables: {offenders}"


def test_no_cartesian_product_outside_declared_brute_force(inventory_plans):
    # The ONLY query allowed a product join over DATA rows is
    # sim_cosine_topk (the declared brute-force correctness tier).
    # dedup_embedding_cosine's nested-loop is over its B(B+1)/2 BLOCK
    # pairs (B rows a side), not data rows — allowed for the
    # nested-loop marker only.  A CartesianProduct anywhere else is a
    # 100 TB plan bug.
    cartesian_ok = {"sim_cosine_topk"}
    nested_loop_ok = {
        "sim_cosine_topk",
        "dedup_embedding_cosine",
        # global-scalar subquery: ONE-ROW broadcast build side joined to
        # every probe row — the optimal plan for comparing against a
        # global aggregate (O(rows), no shuffle), not an N×M product.
        "join_inactive_rich_customers",
        "agg_value_share",  # one-row global-revenue scalar (Q11 shape)
        "join_top_revenue_supplier",  # one-row MAX scalar (Q15 shape)
        "text_unigram_logloss",  # one-row corpus-total scalar (LM norm)
        "text_heavy_hitters",  # one-row corpus-total scalar (threshold)
        "corpus_mixture_weights",  # one-row total+source-count scalar
        "corpus_domain_token_budget",  # one-row corpus-total scalar
        "agg_rfm_segmentation",  # one-row global-anchor-date scalar
        "agg_benford_first_digit",  # one-row digit-total scalar
        "sketch_count_min",  # one-row corpus-total scalar (share bar)
        # one-row NB totals (N_pos/N_neg/V) + one-row class prior, each
        # broadcast to the vocab-sized model / per-doc score frame
        "text_quality_classifier",
        "dedup_keep_best_quality",  # composes the classifier (above)
        # multi-class NB: 1-row vocab-size / train-count scalars plus
        # the L-row (L = #languages, label-cardinality-bounded, never
        # sf-scaling) lang-stats frame crossed into the vocab model and
        # the per-doc score frame — the dense vocab×langs weight table
        # is the point (see langid_train_model docstring)
        "text_langid_classifier",
    }
    offenders = []
    for name, plans in inventory_plans.items():
        plan = plans["simple"]
        if "CartesianProduct" in plan and name not in cartesian_ok:
            offenders.append(f"{name}:cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in nested_loop_ok:
            offenders.append(f"{name}:nested-loop")
    assert not offenders, f"unintended product joins: {offenders}"


def test_global_windows_only_on_bounded_inputs(inventory_plans):
    # SCALE.md "Expected WindowExec warnings": a window with NO
    # partition spec moves its whole input to one partition — allowed
    # only where that input is bounded independent of corpus size.
    #   events_daily_ma             — 60-row daily spine (O(days))
    #   events_rolling_distinct_hll — per-day HLL rollup (O(days))
    # (A third site existed through r6 — the IVF seed numbering window
    # in queries/llm_scale.py — but r7's sample-trained quantizer
    # removed it: seeds are now numbered driver-side on the bounded
    # training sample.)  Any other query growing a global window is a
    # 100 TB plan bug.
    import re

    #   pack_context_windows        — level-2 scan over the per-bucket
    #       rollup: O(N/2^10) rows here, 2^20-wide buckets in
    #       production (queries/training.py _BUCKET_BITS note) — the
    #       bounded second pass of a textbook two-level prefix scan.
    #   corpus_domain_token_budget  — largest-remainder ranking over
    #       the O(#sources) per-domain rollup: global by definition
    #       (one budget, one ranking) but bounded by catalog
    #       cardinality, not corpus size (queries/training.py).
    allowed = {
        "events_daily_ma",
        "events_rolling_distinct_hll",
        "pack_context_windows",
        "corpus_domain_token_budget",
    }
    # partition columns precede the ordering inside
    # windowspecdefinition(...); a sort direction in the FIRST argument
    # means the partition spec is empty.
    rx = re.compile(r"windowspecdefinition\(\s*[^,()]+ (?:ASC|DESC)")
    offenders = []
    for name, plans in inventory_plans.items():
        if name in allowed:
            continue
        if rx.search(plans["simple"]):
            offenders.append(name)
    assert not offenders, f"unbounded global windows: {offenders}"


def test_no_shrinking_unbounded_following_frames(inventory_plans):
    # r7 extreme-timestamp-twin find: a window frame [CURRENT ROW,
    # UNBOUNDED FOLLOWING] is evaluated by Spark's
    # UnboundedFollowingWindowFunctionFrame, which RE-AGGREGATES the
    # whole suffix for every row — O(n^2) per partition.  One user with
    # a 213k-day gapfill spine turned events_gapfill_interpolate into a
    # 21-minute query; the same forward fill as a running frame over
    # day DESC streams in O(n).  Whole-partition frames
    # [UNBOUNDED PRECEDING, UNBOUNDED FOLLOWING] aggregate once per
    # partition and stay allowed; any OTHER frame ending at
    # unboundedfollowing is the quadratic class and is banned
    # repo-wide.
    def has_shrinking_suffix_frame(plan: str) -> bool:
        # A frame's upper bound is quadratic iff it is unboundedfollowing
        # while the lower bound is anything but unboundedpreceding; the
        # lower bound is the text between "...Frame," and the bound that
        # closes the specifiedwindowframe(...) call.
        needle = "unboundedfollowing$())"
        start = 0
        while (i := plan.find(needle, start)) != -1:
            start = i + 1
            j = plan.rfind("specifiedwindowframe(", 0, i)
            if j == -1:
                continue
            lower = plan[j:i].split("Frame,", 1)[-1].strip(" ,")
            if lower != "unboundedpreceding$()":
                return True
        return False

    offenders = [
        name
        for name, plans in inventory_plans.items()
        if has_shrinking_suffix_frame(plans["simple"])
    ]
    assert not offenders, f"O(n^2) suffix window frames: {offenders}"
