"""DataView facade tests — model: reference tests/dataview.rs."""

from pyspark.sql import functions as F

from agnes_spark import DataView
from agnes_spark.sources.memory import table


def test_subview_and_fieldnames(customer):
    v = DataView(customer)
    sub = v.subview("c_custkey", "c_name")
    assert sub.fieldnames() == ["c_custkey", "c_name"]
    assert sub.nfields() == 2
    assert sub.nrows() == v.nrows()


def test_relabel(customer):
    v = DataView(customer).relabel("c_custkey", "customer_id")
    assert "customer_id" in v.fieldnames()
    assert "c_custkey" not in v.fieldnames()


def test_filter_closure_and_expr(customer):
    v = DataView(customer)
    a = v.filter("c_acctbal", lambda c: c > 0).nrows()
    b = v.filter(F.col("c_acctbal") > 0).nrows()
    assert a == b
    assert a < v.nrows()  # synthetic data has negatives


def test_sort_nulls_last(spark):
    df = table(
        spark,
        {"x": [3.0, None, 1.0, 2.0]},
        types={"x": "double"},
    )
    got = [r.x for r in DataView(df).sort_by_label("x").df.collect()]
    assert got == [1.0, 2.0, 3.0, None]
    got_desc = [r.x for r in DataView(df).sort_by_label("x", ascending=False).df.collect()]
    assert got_desc == [3.0, 2.0, 1.0, None]


def test_unique_values(customer):
    u = DataView(customer).unique_values("c_mktsegment")
    vals = {r.c_mktsegment for r in u.df.collect()}
    assert 0 < len(vals) <= 10


def test_merge_positional(spark):
    left = table(spark, {"a": [1, 2, 3]}, types={"a": "int"})
    right = table(spark, {"b": ["x", "y", "z"]})
    merged = DataView(left).merge(DataView(right))
    rows = merged.df.collect()
    assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, "y"), (3, "z")]


def test_merge_positional_stays_in_tungsten(spark):
    """Keyless/orderless positional merge: correct alignment AND no
    Python-RDD hop. Each side's index is Spark's distributed sequence,
    one JVM plan node (AttachDistributedSequence) that numbers rows
    over UnsafeRows; what must stay absent is any Python evaluation or
    a Python rdd.zipWithIndex lineage."""
    left = spark.range(0, 100).select((F.col("id") * 2).alias("a"))
    right = spark.range(0, 100).select((F.col("id") * 3).alias("b"))
    from agnes_spark.operators.merge import merge_views as _merge

    out = _merge(left, right)
    rows = out.orderBy("a").collect()
    assert [(r.a, r.b) for r in rows] == [(2 * i, 3 * i) for i in range(100)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "zipWithIndex" not in plan
    assert "PythonRDD" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_merge_order_by_stays_in_tungsten(spark):
    """order_by= positional merge: correct alignment AND no Python-RDD
    scan in the plan (the whole point vs zipWithIndex)."""
    # spark.range sources (not table(), whose createDataFrame scan is
    # itself an ExistingRDD) so the plan assertion sees only the merge
    left = spark.range(1, 4).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("int").alias("a")
    )
    letters = F.array(F.lit("x"), F.lit("y"), F.lit("z"))
    right = spark.range(1, 4).select(
        F.col("id").alias("r"),
        F.element_at(letters, F.col("id").cast("int")).alias("b"),
    )
    merged = DataView(left).merge(DataView(right), order_by=(["k"], ["r"]))
    rows = sorted((r.a, r.b) for r in merged.df.collect())
    assert rows == [(10, "x"), (20, "y"), (30, "z")]
    plan = merged.df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "existingrdd" not in plan.lower()


def test_merge_order_by_single_list(spark):
    left = table(spark, {"k": [2, 1], "a": [20, 10]}, types={"k": "int", "a": "int"})
    right = table(spark, {"k": [1, 2], "b": ["x", "y"]}, types={"k": "int"})
    merged = DataView(left).merge(DataView(right), order_by=["k"])
    assert sorted((r.a, r.b) for r in merged.df.collect()) == [(10, "x"), (20, "y")]


def test_merge_collision_rename(spark):
    left = table(spark, {"a": [1, 2]}, types={"a": "int"})
    right = table(spark, {"a": [10, 20]}, types={"a": "int"})
    merged = DataView(left).merge(DataView(right))
    assert merged.fieldnames() == ["a", "a_1"]


def _index_merge(left, right):
    """The with_row_index positional merge of two frames: the reference
    the one-frame merge must agree with, row for row and in order."""
    from agnes_spark.operators.merge import _IDX, with_row_index

    rhs = with_row_index(right)
    for c in right.columns:
        if c in left.columns:
            rhs = rhs.withColumnRenamed(c, f"{c}_1")
    return with_row_index(left).join(rhs, _IDX).orderBy(_IDX).drop(_IDX)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_merge_views_over_one_frame_is_one_select(spark, sf_dir, jobs_run):
    """Two views of one sorted frame (one relabeled, one sharing a
    label) merge as one select over the frame: no job while building,
    no checkpoint (ExistingRDD) and no window in the plan, and the rows
    and their order of the row-index merge."""
    from agnes_spark.sources.catalog import read_source

    cust = DataView(read_source(spark, f"{sf_dir}/customer.parquet")).sort_by_label(
        "c_acctbal", "c_custkey", ascending=[False, True]
    )
    left = cust.subview("c_custkey", "c_name")
    right = cust.subview("c_name", "c_acctbal").relabel("c_acctbal", "bal")
    merged, jobs = jobs_run(lambda: left.merge(right).df)
    assert jobs == set()
    assert merged.columns == ["c_custkey", "c_name", "c_name_1", "bal"]
    assert "ExistingRDD" not in _plan(merged) and "Window" not in _plan(merged)
    rows = merged.collect()
    assert len(rows) == cust.nrows()
    assert rows == _index_merge(left.df, right.df).collect()


def test_merge_views_two_reads_of_one_file_share_the_frame(spark, sf_dir):
    """Two catalog reads of one file carry different attribute ids but
    are the same frame, so their views merge as one select too."""
    from agnes_spark.sources.catalog import read_source

    path = f"{sf_dir}/nation.parquet"
    left = DataView(read_source(spark, path)).subview("n_nationkey", "n_name")
    right = DataView(read_source(spark, path)).subview("n_regionkey")
    merged = left.merge(right).df
    assert "ExistingRDD" not in _plan(merged) and "Window" not in _plan(merged)
    assert merged.collect() == read_source(spark, path).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).collect()


def test_merge_views_other_inputs_take_the_row_index(spark, sf_dir):
    """Views of different frames, a filter on one side only and a
    computed column still merge through with_row_index (its distributed
    sequence shows as AttachDistributedSequence, with no checkpoint
    ExistingRDD), row-aligned."""
    from agnes_spark.sources.catalog import read_source

    cust = DataView(read_source(spark, f"{sf_dir}/customer.parquet")).sort_by_label("c_custkey")
    nation = DataView(read_source(spark, f"{sf_dir}/nation.parquet")).sort_by_label("n_nationkey")
    left = cust.subview("c_custkey", "c_acctbal")
    cases = {
        "different frames": nation.subview("n_name"),
        "filter on one side": cust.filter(F.col("c_acctbal") > 0).subview("c_name"),
        "computed column": cust.with_field("twice", F.col("c_acctbal") * 2).subview("twice"),
    }
    for case, right in cases.items():
        merged = left.merge(right).df
        assert "AttachDistributedSequence" in _plan(merged), case
        assert "ExistingRDD" not in _plan(merged), case
        want = [tuple(a) + tuple(b) for a, b in zip(left.df.collect(), right.df.collect())]
        assert [tuple(r) for r in merged.collect()] == want, case


def test_to_json_rows(spark):
    df = table(spark, {"a": [1]}, types={"a": "int"})
    assert DataView(df).to_json_rows() == ['{"a":1}']


def test_dataview_dataframe_passthrough(spark, sf_dir):
    """DataView is a strict superset of DataFrame: unshadowed
    DataFrame methods work directly and re-wrap their results."""
    from pyspark.sql import functions as F

    from agnes_spark import DataView

    v = DataView(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    # DataFrame-returning methods re-wrap
    out = v.where("c_acctbal > 1000").limit(10)
    assert isinstance(out, DataView)
    assert out.nrows() == 10
    # intermediate non-DataFrame objects (GroupedData) come back raw,
    # and their results are plain DataFrames — the plain-Spark escape
    agg = v.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    assert agg.count() == 5
    # non-callable attributes pass through
    assert isinstance(v.columns, list) and "c_custkey" in v.columns


def test_sort_by_label_comparator(spark):
    """reference view.rs:754 sort_by_label_comparator (tests/dataview.rs
    comparator sort): sort by an arbitrary key expression — here string
    length — with NA first and an explicit tie-break."""
    df = table(spark, {"s": ["ccc", "a", None, "bb", "dd"], "k": [1, 2, 3, 4, 5]}, types={"k": "int"})
    v = DataView(df).sort_by_label_comparator("s", lambda c: F.length(c), tie_break=("k",))
    assert [r.s for r in v.df.collect()] == [None, "a", "bb", "dd", "ccc"]
    desc = DataView(df).sort_by_label_comparator(
        "s", lambda c: F.length(c), ascending=False, tie_break=("k",)
    )
    # NA first holds for descending too (nulls "of lesser value" sort at
    # the start in the reference; we mirror asc — desc keeps nulls first)
    assert [r.s for r in desc.df.collect()][0] is None


def test_unique_indices(spark):
    """reference view.rs:1016 unique_indices: exemplar (first
    occurrence) row index per distinct value combination."""
    df = table(spark, {"g": ["x", "y", "x", "z", "y"]})
    got = {(r.g, r.row_idx) for r in DataView(df).unique_indices("g").df.collect()}
    assert got == {("x", 0), ("y", 1), ("z", 3)}
