"""Driver heap sizing (``session.driver_mem_for``): half the host's
physical memory in whole GiB, capped at 48g, never below 1g. Pure
arithmetic — no Spark."""

from elt_gluepipeline_spark.session import driver_mem_for

GIB = 1024 ** 3


def test_driver_heap_is_half_the_host_capped_at_48g():
    assert driver_mem_for(128 * GIB) == "48g"
    assert driver_mem_for(15 * GIB) == "7g"
    assert driver_mem_for(2 * GIB) == "1g"
