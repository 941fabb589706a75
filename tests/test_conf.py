from waterbear_spark.conf import recommended_conf


def test_recommended_conf_scales_partitions():
    small = recommended_conf(input_tb=0.001, total_cores=32)
    big = recommended_conf(input_tb=100.0, total_cores=1000)
    assert int(small["spark.sql.shuffle.partitions"]) == 64  # 2x cores floor
    # 100 TB / 192 MB target ≈ 546k partitions
    assert int(big["spark.sql.shuffle.partitions"]) > 500_000
    for conf in (small, big):
        assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
        assert conf["spark.sql.session.timeZone"] == "UTC"


def test_recommended_conf_applies(spark):
    # every key must be a valid, settable Spark conf name: apply them to
    # the live shared session, then put back the values found there
    conf = recommended_conf()
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # later test files run under the shared session's conf, not this one
    assert (
        spark.conf.get("spark.sql.shuffle.partitions")
        == old["spark.sql.shuffle.partitions"]
    )
