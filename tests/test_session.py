from warp_spark.session import driver_memory

GiB = 1 << 30


def test_driver_memory_is_sixty_percent_of_physical_capped_at_16g():
    assert driver_memory(int(15.7 * GiB)) == "9g"  # 60 % = 9.42 GiB, floored
    assert driver_memory(64 * GiB) == "16g"
    assert driver_memory(1 * GiB) == "1g"  # never below 1g
    assert driver_memory(None) == "16g"  # physical memory unknown
