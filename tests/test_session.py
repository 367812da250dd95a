"""Session defaults that need no JVM."""

from solr_spark.session import driver_heap


def test_driver_heap_is_a_quarter_of_memory_at_most_8g():
    gib = 1 << 30
    assert driver_heap(4 * gib) == "1024m"
    assert driver_heap(15 * gib) == "3840m"
    assert driver_heap(32 * gib) == "8192m"
    assert driver_heap(256 * gib) == "8192m"
    assert driver_heap().endswith("m")
