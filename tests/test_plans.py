"""Physical-plan assertions — the plan you'd want at 100 TB, not just any
plan that passes (SURVEY.md §4): predicate pushdown reaches the parquet
scan, column pruning narrows ReadSchema, small dims broadcast, expression
pipelines stay inside WholeStageCodegen, top-k avoids a full sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity").between(10, 40))
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_quantity,10.0" in plan
    assert "LessThanOrEqual(l_quantity,40.0" in plan


def test_column_pruning_narrows_read_schema(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = _plan(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    # untouched columns must NOT be read
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema
    assert "l_partkey" not in read_schema


def test_dim_join_is_broadcast(spark):
    from realestate_scraper_spark.plans.relational import q04_region_rollup

    plan = _plan(q04_region_rollup(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_strategy(spark):
    from realestate_scraper_spark.plans.relational import q03_anti_join_customers

    plan = _plan(q03_anti_join_customers(spark, SF_DIR))
    assert "LeftAnti" in plan


def test_global_topk_avoids_full_sort(spark):
    from realestate_scraper_spark.plans.relational import q24_topk_global

    plan = _plan(q24_topk_global(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_expressions_stay_in_codegen(spark):
    """The scalar pipeline (canonicalize → hash → filters) must be one
    WholeStageCodegen span with no Python evaluation node."""
    from realestate_scraper_spark.functions.urlnorm import with_url_keys

    df = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        F.concat(
            F.lit("https://www.otodom.pl/x?b=2&a=1#f"),
            F.col("p_partkey").cast("string"),
        ).alias("url")
    )
    out = with_url_keys(df)
    plan = _plan(out)
    # '*(n)' prefixes mark WholeStageCodegen spans in executedPlan.toString;
    # the higher-order array_sort/filter lambdas evaluate interpreted but
    # still JVM-side — the critical assertion is NO Python eval nodes.
    assert "*(" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_agg_has_partial_aggregation(spark):
    """Map-side combine (partial_ aggregate) before the exchange — the A1
    family must not shuffle raw rows."""
    from realestate_scraper_spark.plans.relational import q01_pricing_summary

    plan = _plan(q01_pricing_summary(spark, SF_DIR))
    assert "partial_" in plan  # HashAggregate(keys=…, functions=[partial_sum…])
    assert plan.index("partial_") < plan.index("Exchange") or "Exchange" in plan


def test_refine_is_pure_expressions(spark):
    """The refine stage (bbox gate, back-solve, completeness) introduces no
    Python nodes — it composes into whatever plan feeds it."""
    from realestate_scraper_spark.crawl.parse import OFFER_FIELDS
    from realestate_scraper_spark.crawl.refine import refined

    empty = spark.createDataFrame([], OFFER_FIELDS)
    plan = _optimized(refined(empty))
    assert "pythonUDF" not in plan and "PythonUDF" not in plan


def test_ref_lit_codegen_source_is_value_invariant(spark):
    """Two plans differing only in a ref_lit constant must generate ONE
    source text: the crawl loop rebuilds its write projections every round
    with a fresh round stamp, and an inlined primitive literal makes a new
    source, so a Janino compile per round per stage — measured in the r6
    depth probe as 1-5 s of core-invariant wall each in the
    staged/insert/update stages (one task compiling at full CPU, all others
    blocked on the code cache). Equal source turns into a cache hit only
    while the codegen cache holds the session's working set (sized in
    session.get_spark; test_repeat_pass_reuses_generated_code)."""
    from realestate_scraper_spark.functions.codegen import ref_lit

    base = spark.range(8)

    def gen_src(df):
        seq = df._jdf.queryExecution().debug().codegenToSeq()
        return [seq.apply(i)._2() for i in range(seq.length())]

    da = base.select(ref_lit(7, "int").alias("round"))
    db = base.select(ref_lit(8, "int").alias("round"))
    assert gen_src(da) == gen_src(db)
    # plain literals are the control: they MUST differ (inlined)
    ca = base.select(F.lit(7).alias("round"))
    cb = base.select(F.lit(8).alias("round"))
    assert gen_src(ca) != gen_src(cb)
    # values and types are exact
    assert [r.round for r in da.collect()] == [7] * 8
    assert da.schema["round"].dataType.simpleString() == "int"
    assert db.select(F.sum("round").alias("s")).collect()[0].s == 64
    fa = base.select(ref_lit(3.5, "double").alias("retry_at"))
    assert {r.retry_at for r in fa.collect()} == {3.5}
    # the wrapper must not force an interpreted fallback: the projection
    # stays inside a WholeStageCodegen span ('*(n)' prefix)
    assert "*(" in da._jdf.queryExecution().executedPlan().toString()


def test_repeat_pass_reuses_generated_code(spark, sf_dir):
    """A repeat pass of the 14 headline queries compiles (almost) nothing:
    the session's codegen cache holds every class of the warm-up pass. At
    Spark's default of 100 entries LRU evicts each class before its reuse
    and every pass compiles about 133 units (sf0.001, local[4])."""
    from bench import HEADLINE
    from realestate_scraper_spark.plans import relational, trainingdata

    registry = {**relational.REGISTRY, **trainingdata.REGISTRY}
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def one_pass():
        for name in HEADLINE:
            registry[name][0](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before <= 5
