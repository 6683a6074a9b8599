"""The session factory's host-derived defaults."""

from __future__ import annotations

from feature_store_test_spark.session import default_driver_memory


def test_default_driver_heap_is_capped_by_the_host():
    """24g where the host has room for it, half the host where it has not."""
    assert default_driver_memory(128 * 2**30) == "24g"
    assert default_driver_memory(48 * 2**30) == "24g"
    assert default_driver_memory(15 * 2**30) == "7680m"
    assert default_driver_memory(47 * 2**30) == "24064m"


def test_driver_heap_default_and_override(spark):
    """The test session gets the default unless SPARK_DRIVER_MEMORY is set."""
    import os

    want = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
