"""get_spark: driver heap sizing (pure Python), and the effective session
conf the engine relies on (the session fixture)."""

from crawlspark.session import default_driver_mem


def test_default_driver_mem_is_half_the_box_up_to_24g():
    gib = 1 << 30
    # a 15.7 GiB box (MemTotal 16456384 kB): half of it
    assert default_driver_mem(16456384 << 10) == "8035m"
    assert default_driver_mem(8 * gib) == "4096m"
    # the 24 GiB cap holds from a 48 GiB box up
    assert default_driver_mem(48 * gib) == "24576m"
    assert default_driver_mem(256 * gib) == "24576m"


def test_default_driver_mem_fits_this_box():
    import os

    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mb = int(default_driver_mem().rstrip("m"))
    assert 0 < mb << 20 <= total // 2


def test_effective_conf_the_engine_relies_on(spark):
    """get_spark leaves these to Spark's defaults; a Spark upgrade that
    flips one fails here instead of silently changing plans."""
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
    ):
        assert spark.conf.get(key) == "true", key
    # the session fixture asks for local[4]
    assert spark.sparkContext.defaultParallelism == 4
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
