

def test_vector_tiles_points_stays_jvm(spark):
    """The point tiling path is pure column expressions — no Python
    evaluation node may appear in its physical plan."""
    from geobuf_spark.operators import tiling
    from geobuf_spark.sources import minted

    pts = minted.minted_points(spark, "/root/testdata/sf0.001")
    plan = tiling.vector_tiles_points(pts, z=6)._jdf.queryExecution() \
        .executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                   "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan, marker


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_codec_plans_stay_jvm(spark):
    """The point, line and polygon codec runs as JVM UDFs inside codegen:
    no Python evaluation node in the flagship entry(), the codec registry
    queries, or the fused point round trip."""
    import __spark_entry__ as em

    from geobuf_spark.codec import spark_codec
    from geobuf_spark.sources import pages

    sf = "/root/testdata/sf0.001"
    q = em.queries()
    p = (pages.with_minted_geometry(pages.pages(spark, 500))
         .select("page_id", "lon", "lat"))
    frames = {
        "entry": em.entry(spark),
        **{n: q[n](spark, sf)
           for n in ("geobuf_roundtrip", "polygon_roundtrip", "feature_meta")},
        "roundtrip_points": spark_codec.roundtrip_points(p, id_col="page_id"),
    }
    for name, df in frames.items():
        plan = _executed_plan(df)
        assert "gb_po" in plan, name  # gb_point*/gb_poly*: the codec ran
        for marker in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
            assert marker not in plan, (name, marker)


def test_tpch_fact_table_never_broadcast(spark):
    """Join-strategy invariant for the TPC-H surface: lineitem (the fact
    table) must never appear on the build side of a BroadcastHashJoin —
    at 100 TB a broadcast fact table is an OOM, and small-SF statistics
    would happily pick it without the explicit hints. The check walks each
    BroadcastExchange subtree and asserts no lineitem scan inside it."""
    import re

    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    for q in ["tpch_q3", "tpch_q5", "tpch_q7", "tpch_q8", "tpch_q9",
              "tpch_q12", "tpch_q21"]:
        plan = _executed_plan(em.queries()[q](spark, sf))
        # indentation-scoped subtree walk: a BroadcastExchange node owns
        # every deeper-indented line after it until indentation returns
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "BroadcastExchange" not in ln:
                continue
            depth = len(ln) - len(ln.lstrip(" +-:"))
            for sub in lines[i + 1:]:
                d = len(sub) - len(sub.lstrip(" +-:"))
                if d <= depth and sub.strip():
                    break
                assert not re.search(r"lineitem\.parquet", sub), \
                    f"{q}: lineitem scan inside a BroadcastExchange\n{ln}\n{sub}"


def test_embed_near_dups_single_join_shuffle(spark):
    """cosine_near_pairs: the band-bucket self-join is the only join in
    the plan, and the exact-cosine refine happens on candidate pairs (no
    cartesian / nested-loop node anywhere)."""
    from pyspark.sql import functions as F

    from geobuf_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    plan = _executed_plan(similarity.cosine_near_pairs(emb, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_webtext_line_query_shuffle_budgets(spark):
    """Shuffle budgets for the batch-3 corpus-hygiene queries — the shapes
    that must survive a 100x scale-up: line_dedup_clean and
    sample_stratified are pure per-row expression pipelines (ZERO
    exchanges); meta_robots and warc_index each pay exactly one shuffle
    (host agg / host window); boilerplate_lines pays the standard
    two-exchange multi-distinct expand and nothing more. None of them may
    evaluate Python."""
    import __spark_entry__ as em

    budgets = {"line_dedup_clean": 0, "sample_stratified": 0,
               "meta_robots": 1, "warc_index": 1, "boilerplate_lines": 2,
               # multi-distinct expand / group-table windows
               "host_tile_footprint": 2, "lang_tile_mix": 2,
               # +1 exchange each: the widen() round-robin repartition
               # that lifts the one-row-group testdata scan to session
               # parallelism (a no-op at production row-group counts)
               "ngram_topk": 3,
               # widen + (doc,gram) agg → gram window → doc rollup; the
               # aggregate-then-join form costs 2 more — regression guard
               "dup_span_frac": 4}
    plans = {}
    for q, budget in budgets.items():
        plan = _executed_plan(em.queries()[q](spark, "/root/testdata/sf0.001"))
        plans[q] = plan
        assert plan.count("Exchange") == budget, f"{q}\n{plan}"
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                       "FlatMapGroupsInPandas", "MapInPandas",
                       "CartesianProduct", "BroadcastNestedLoop"):
            assert marker not in plan, f"{q}: {marker}"
    # the corpus top-k must be a TakeOrdered (per-partition heaps), never
    # a global sort
    assert "TakeOrderedAndProject" in plans["ngram_topk"]


def test_batch78_shuffle_budgets(spark):
    """Shuffle budgets for the batch-7/8 families: the cell-encoding and
    measure projections are shuffle-free; the radius join pays its two
    widen round-robins plus the (broadcast at this SF) cell join; the
    postings pipeline is the one-pass widen → pair-agg → term-repartition
    chain and must never re-read the explode."""
    import __spark_entry__ as em

    budgets = {"quadkey_z8": 0, "geohash6": 0, "simplify_vw": 0,
               "geom_area_centroid": 0,
               "radius_join_pairs": 3, "inverted_postings": 3,
               # (host, anchor) agg + the host window repartition; the
               # extraction/zip stage is pure expressions
               "anchor_text_topk": 2}
    for q, budget in budgets.items():
        plan = _executed_plan(em.queries()[q](spark, "/root/testdata/sf0.001"))
        assert plan.count("Exchange") == budget, f"{q}\n{plan}"
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                       "FlatMapGroupsInPandas", "MapInPandas",
                       "CartesianProduct", "BroadcastNestedLoop"):
            assert marker not in plan, f"{q}: {marker}"
    # the postings top-k (df desc) rides per-partition heaps
    plan = _executed_plan(em.queries()["inverted_postings"](
        spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan


def test_r4_extension_shuffle_budgets(spark):
    """Shuffle budgets for the r4-extension families (batches 11-17) —
    the shapes that must survive a 100x scale-up. Generator/projection
    ops are shuffle-free; the window-shaped ops pay exactly ONE entity
    exchange (lag/first/last/rollup all share it); the allocation and
    overlay ops pay only their cover join; the aggregation rollups stay
    at 2-4 narrow exchanges. The checkpointed graph/sketch ops
    (triangle_hosts, kmv_setops, link_reciprocity) are pinned separately
    by their value tests — localCheckpoint boundaries make static
    exchange counts unstable. No Python nodes anywhere."""
    import __spark_entry__ as em

    budgets = {
        "areal_interp": 0, "quadtree_assign": 0, "adaptive_cover": 0,
        "geom_validity": 0,
        "funnel_conversion": 1, "traj_steps": 1, "scd2_history": 1,
        "tile_heat_decay": 1, "embed_quantize": 1, "rect_overlay_iou": 1,
        "cell_skew_stats": 2, "lang_confusion": 2,
        "event_transitions": 3, "lang_diversity_simpson": 3,
        "tile_gaps_anti": 3, "cocitation_pairs": 4,
    }
    for q, budget in budgets.items():
        plan = _executed_plan(em.queries()[q](spark, "/root/testdata/sf0.001"))
        assert plan.count("Exchange") == budget, f"{q}\n{plan}"
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                       "FlatMapGroupsInPandas", "MapInPandas",
                       "CartesianProduct", "BroadcastNestedLoop"):
            assert marker not in plan, f"{q}: {marker}"


def test_batch19_graph_plans_stay_jvm(spark):
    """The node-level graph family (batch 19) is checkpointed like
    triangle_hosts, so static exchange counts are unstable — pin what
    must hold at any scale instead: pure-JVM plans (no Python eval
    nodes), no cartesian/nested-loop joins, and the BFS adjacency reuse
    (each round joins the checkpointed adjacency, never re-extracts the
    html)."""
    import __spark_entry__ as em

    for q in ("clustering_coeff", "link_prediction_ra", "bfs_hops3"):
        plan = _executed_plan(em.queries()[q](spark, "/root/testdata/sf0.001"))
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                       "FlatMapGroupsInPandas", "MapInPandas",
                       "CartesianProduct", "BroadcastNestedLoop"):
            assert marker not in plan, f"{q}: {marker}"
        # checkpoint boundaries present: the shared subtrees were cut
        assert "Scan ExistingRDD" in plan, q


def test_batch2122_shuffle_budgets(spark):
    """Batches 21-22: interval union and staypoints share ONE entity
    window exchange; the segment-intersection join pays its cell
    equi-join + the pair rollup; robots pays prefix-join + group +
    default left-join; the delta-bytes layout analytic pays the cell
    window (shared by both orderings) + the seq/hilbert self-join.
    word_cooc_cosine is localCheckpoint-bounded (unstable static count)
    — pinned JVM-only instead. Hilbert is the established MapInArrow
    kernel; everything else stays whole-stage JVM."""
    import __spark_entry__ as em

    budgets = {"interval_union_time": 1, "staypoints": 1,
               "segment_xing_join": 2, "robots_prefix_rules": 3,
               "delta_bytes_by_tile": 3, "session_paths": 2,
               "dbscan_core": 3, "bearing_sectors": 2,
               "late_arrival_hist": 2, "prefix_autocomplete_topk": 3,
               "trend_slope_weekly": 2, "copresence_pairs": 4,
               "hausdorff_pairs": 3, "skyline_docs": 2,
               "tile_focal_mean": 2, "route_snap_join": 3,
               "weighted_median_tokens": 2, "shard_balance": 2,
               "grid_line_density": 1, "anomaly_days": 4,
               "od_flows": 2, "novelty_weekly": 4,
               "phrase_search": 4, "tile_percentile_rank": 2,
               "active_users_7d": 3, "conjunctive_search": 3,
               "scd2_asof_enrich": 2, "bot_flags": 1,
               "dwell_session_overlap": 3, "tile_p90_tokens": 3,
               "multi_grain_actives": 3, "props_json_stats": 2,
               "benford_values": 1, "null_profile": 12,
               "host_url_lcp": 1, "tile_spatial_outliers": 2,
               "ship_delay_stats": 2, "range_bounds_planner": 2,
               "host_concentration": 2, "dominant_bearing": 1,
               "rrf_fusion": 3, "time_to_purchase": 2,
               "revisit_cadence": 2, "dow_profile": 1,
               "customer_pareto": 2, "ring_normalize": 0,
               "bounding_circles": 5, "watermark_policy_sim": 2,
               "turning_angles": 1, "outage_gaps": 1,
               "ks_two_langs": 3, "cell_coverage_curve": 2,
               "dwell_event_mix": 5, "event_motifs_3": 2,
               "wow_change": 2, "ripley_band_pairs": 3}
    for q, budget in budgets.items():
        plan = _executed_plan(em.queries()[q](spark, "/root/testdata/sf0.001"))
        assert plan.count("Exchange") == budget, f"{q}\n{plan}"
        allowed = ("MapInArrow",) if q == "delta_bytes_by_tile" else ()
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                       "FlatMapGroupsInPandas", "MapInPandas",
                       "CartesianProduct", "BroadcastNestedLoop"):
            if marker in allowed:
                continue
            assert marker not in plan, f"{q}: {marker}"
    # checkpoint-bounded plans (unstable static exchange counts): pin
    # JVM-only + no cartesian instead.
    for q in ("word_cooc_cosine", "containment_pairs", "outlier_mad",
              "kcore_hosts", "idw_interpolate", "flow_divergence",
              "topk_drift", "rect_nesting", "dup_pair_lang_mix"):
        plan = _executed_plan(em.queries()[q](spark, "/root/testdata/sf0.001"))
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                       "CartesianProduct", "BroadcastNestedLoop"):
            assert marker not in plan, f"{q}: {marker}"
    # single-row-aggregate combiners: the only BroadcastNestedLoops in
    # the registry are 1x1 joins of scalar aggregates — legitimate.
    for q in ("union_area_rects", "fk_audit", "ab_lift",
              "spatial_split_leakage", "churn_rollup"):
        plan = _executed_plan(em.queries()[q](spark, "/root/testdata/sf0.001"))
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                       "CartesianProduct"):
            assert marker not in plan, f"{q}: {marker}"
