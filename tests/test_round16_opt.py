"""Round-16 optimization pins: internals-level tests for changes whose
VALUES are proven unchanged by the oracle gate — these pin the plan
shapes and fusion seams so a regression is caught without a bench run."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_synth_decode_fuses_into_one_python_pass(spark):
    """decode_x(synth_payloads(...)) must run ONE MapInPandas above the
    key-only exchange — the synth->decode seam may not round-trip
    payload bytes through the JVM (guide §4: one boundary crossing)."""
    from mwa_uvdata_pipeline_spark.operators.multimodal import (
        decode_wav,
        synth_payloads,
    )
    from mwa_uvdata_pipeline_spark.plans import table

    docs = table(spark, SF_SMALL, "documents")
    out = decode_wav(synth_payloads(docs, "wav"))
    plan = _executed_plan(out)
    assert plan.count("MapInPandas") == 1
    ex = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert ex and all("payload" not in ln for ln in ex)


def test_fused_decode_values_match_materialized_path(spark):
    """The fusion is a pure plan rewrite: decoding the fused frame and
    decoding the materialized synth output must agree row for row."""
    from mwa_uvdata_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        synth_payloads,
    )
    from mwa_uvdata_pipeline_spark.plans import table

    docs = table(spark, SF_SMALL, "documents")
    fused = decode_jpeg(synth_payloads(docs, "jpeg"))
    # non-string select defeats the fusion seam -> materialized chain
    mat = synth_payloads(docs, "jpeg").select("doc_id", F.col("payload"))
    assert _executed_plan(decode_jpeg(mat)).count("MapInPandas") == 2
    a = sorted(map(tuple, fused.collect()))
    b = sorted(map(tuple, decode_jpeg(mat).collect()))
    assert a == b


def test_km_argmin_struct_matches_window_form(spark):
    """_km_fit's assignment argmin was restructured from a
    row_number()-over-(dist, cid) window to min(struct(dist, cid)):
    lexicographic struct order IS that tie-break, pinned row-for-row
    Spark-vs-Spark (the oracle proves it vs DuckDB end to end)."""
    from pyspark.sql import Window

    from mwa_uvdata_pipeline_spark.plans.text import (
        _KM_SCALE,
        _emb_stats,
        _km_fit,
        _km_k,
    )
    from mwa_uvdata_pipeline_spark.plans import fan_out, table

    _, assign, _ = _km_fit(spark, SF_SMALL)
    got = sorted(map(tuple, assign.collect()))

    # the old window formulation, rebuilt verbatim
    k = _km_k(_emb_stats(spark, SF_SMALL)[0])
    pts = (
        fan_out(table(spark, SF_SMALL, "embeddings"), "vec_id")
        .select("vec_id", F.posexplode("embedding").alias("dim", "x"))
        .select(
            "vec_id",
            "dim",
            F.round(F.col("x").cast("double") * _KM_SCALE)
            .cast("long")
            .alias("q"),
        )
    )
    cents = pts.where(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cid"), "dim", "q"
    )
    assign_w = None
    for _ in range(2):
        d = (
            pts.join(F.broadcast(cents.withColumnRenamed("q", "cq")), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
                ).alias("dist")
            )
        )
        rn = Window.partitionBy("vec_id").orderBy("dist", "cid")
        assign_w = (
            d.withColumn("rn", F.row_number().over(rn))
            .where(F.col("rn") == 1)
            .select("vec_id", "cid")
        )
        cents = (
            assign_w.join(pts, "vec_id")
            .groupBy("cid", "dim")
            .agg(F.expr("sum(q) div count(1)").alias("q"))
        )
    want = sorted(map(tuple, assign_w.collect()))
    assert got == want


def test_km_fit_plan_has_no_window_sort(spark):
    """The Lloyd argmin must stay a hash aggregate: a Window would
    re-introduce a per-partition sort of the full distance table."""
    from mwa_uvdata_pipeline_spark.plans import load_all

    df = load_all()["ml_kmeans"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "Window" not in plan


def test_dedup_semantic_vn_merge_matches_separate_leg(spark):
    """cent_cos after merging the vn aggregation into the dc groupBy
    must equal the separate-leg formulation bit for bit (one cid per
    vec_id makes the two groupings sum identical terms)."""
    from mwa_uvdata_pipeline_spark.plans import load_all
    from mwa_uvdata_pipeline_spark.plans.text import _km_fit

    got = sorted(
        map(
            tuple,
            load_all()["dedup_semantic"]
            .spark(spark, SF_SMALL)
            .select("vec_id", "cent_cos")
            .collect(),
        )
    )

    pts, assign, cents = _km_fit(spark, SF_SMALL)
    vn = pts.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("q") * F.col("q")).cast("double")).alias("vn")
    )
    cn = cents.groupBy("cid").agg(
        F.sqrt(F.sum(F.col("q") * F.col("q")).cast("double")).alias("cn")
    )
    dc = (
        pts.join(assign, "vec_id")
        .join(
            F.broadcast(cents.select("cid", "dim", F.col("q").alias("cq"))),
            ["cid", "dim"],
        )
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.col("q") * F.col("cq")).cast("double").alias("dotc"))
    )
    want = sorted(
        map(
            tuple,
            dc.join(vn, "vec_id")
            .join(F.broadcast(cn), "cid")
            .select(
                "vec_id",
                F.round(
                    F.col("dotc") / (F.col("vn") * F.col("cn")), 6
                ).alias("cent_cos"),
            )
            .collect(),
        )
    )
    assert got == want


def test_cc_pairs_unique_matches_default_path(spark):
    """pairs_unique=True only skips the edge-dedup exchange; on pairs
    that ARE unique with src < dst the components must be identical."""
    from mwa_uvdata_pipeline_spark.operators.graph import (
        connected_components,
    )

    rows = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(rows, ["doc_a", "doc_b"])
    base = sorted(
        map(tuple, connected_components(pairs).collect())
    )
    fast = sorted(
        map(
            tuple,
            connected_components(pairs, pairs_unique=True).collect(),
        )
    )
    assert base == fast
    assert base == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20), (22, 20)]


def test_lazy_synth_frame_falls_back_for_generic_use(spark):
    """Non-seam DataFrame use of synth_payloads output (counts, column
    pruning, filters) must behave exactly like the materialized chain."""
    from mwa_uvdata_pipeline_spark.operators.multimodal import (
        synth_payloads,
    )
    from mwa_uvdata_pipeline_spark.plans import table

    docs = table(spark, SF_SMALL, "documents")
    raw = synth_payloads(docs, "ppm")
    n = spark.sparkContext.defaultParallelism
    assert raw.rdd.getNumPartitions() == n
    assert raw.where(F.col("doc_id") < 10).count() == 10
    head = raw.orderBy("doc_id").limit(1).collect()[0]
    assert bytes(head.payload[:2]) == b"P6"


def test_e2e_match_filter_chain_single_post_ins_exchange(spark):
    """d_e2e_lifecycle's post-INS chain (zscore windows, streak, tb,
    final agg) must ride ONE obsid repartition of the materialised INS:
    HashPartitioning(obsid) satisfies every downstream obsid-prefixed
    clustering, and obsid is the scale-out unit. The scan, diff shuffle
    and INS aggregation ran once, when the INS was materialised, so the
    plan holds no other exchange."""
    from mwa_uvdata_pipeline_spark.plans import load_all

    df = load_all()["d_e2e_lifecycle"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    exchanges = [ln.strip() for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert exchanges[0].startswith("+- Exchange hashpartitioning(obsid#"), plan
    assert "REPARTITION_BY_COL" in exchanges[0], plan
    assert "Scan ExistingRDD" in plan, plan


def test_assoc_rules_single_fact_scan(spark):
    """x_assoc_rules must mine pairs, item supports and the basket
    total from ONE persisted basket table — exactly one lineitem scan
    in the whole plan (the Union shape planned five)."""
    from mwa_uvdata_pipeline_spark.plans import load_all

    df = load_all()["x_assoc_rules"].spark(spark, SF_SMALL)
    # formatted explain numbers each physical node once (cached inner
    # plans are not re-printed per consumer like in toString)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    n_scans = sum(
        1
        for ln in plan.splitlines()
        if ln.startswith("(") and ") Scan parquet" in ln
    )
    assert n_scans == 1, plan
    assert "Union" not in plan
    assert "InMemoryTableScan" in plan


def test_dedup_semantic_pins_pair_join_parallelism(spark):
    """The exact-cosine pair joins must ride AQE-uncoalescible keyed
    repartitions (hash(va)/hash(vb) at defaultParallelism): AQE sizes
    coalesce off the candidate shuffle's 16-byte rows, but the join
    output carries two 64-dim vectors per pair."""
    from mwa_uvdata_pipeline_spark.plans import load_all

    df = load_all()["dedup_semantic"].spark(spark, SF_SMALL)
    plan = _executed_plan(df)
    assert "hashpartitioning(va#" in plan and "hashpartitioning(vb#" in plan
    assert plan.count("REPARTITION_BY_NUM") >= 2


def test_dedup_semantic_pin_survives_a_full_collect(spark):
    """A long session must plan dedup_semantic like a fresh one: after
    one call has been fully collected, a rebuilt frame still carries
    both keyed pair-join repartitions. Intermediates left cached by the
    first call would satisfy the first repartition and remove it."""
    from mwa_uvdata_pipeline_spark.plans import load_all

    plan_fn = load_all()["dedup_semantic"].spark
    assert len(plan_fn(spark, SF_SMALL).toPandas()) > 0
    plan = _executed_plan(plan_fn(spark, SF_SMALL))
    assert "hashpartitioning(va#" in plan and "hashpartitioning(vb#" in plan
    assert plan.count("REPARTITION_BY_NUM") >= 2
