"""Property tests for the round-5 core primitives.

- skew.global_row_number: for ANY multiset of sortable rows, the
  two-phase numbering must equal the single-reducer row_number model
  (Python sorted()) exactly — orderings mixing DESC/ASC, negative
  values, duplicates broken by a tie-break column.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from docs2kg_spark.functions.skew import global_row_number

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=300
    ),
    desc=st.booleans(),
)
@settings(**_SETTINGS)
def test_global_row_number_matches_sorted_model(spark, vals, desc):
    rows = [(i, v) for i, v in enumerate(vals)]  # i = unique tie-break
    df = spark.createDataFrame(rows, "i long, v long")
    order = [F.col("v").desc() if desc else F.col("v").asc(), F.col("i").asc()]
    got = {
        r["i"]: r["rk"]
        for r in global_row_number(df, order, "rk", n_parts=5).collect()
    }
    model = sorted(rows, key=lambda t: ((-t[1] if desc else t[1]), t[0]))
    want = {i: rk + 1 for rk, (i, _v) in enumerate(model)}
    assert got == want

