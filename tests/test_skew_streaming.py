from docs2kg_spark.functions.skew import salted_count, salted_join


def test_salted_join_matches_plain_join(spark):
    heavy = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        "k string, v int",
    )
    light = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, tag string")
    got = salted_join(heavy, light, on=["k"], n_salts=4)
    want = heavy.join(light, on="k")
    assert got.count() == want.count() == 505
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_salted_count_matches_groupby(spark):
    df = spark.createDataFrame([("a",)] * 100 + [("b",)] * 3, "k string")
    got = {r.k: r.n for r in salted_count(df, "k", n_salts=4).collect()}
    assert got == {"a": 100, "b": 3}

