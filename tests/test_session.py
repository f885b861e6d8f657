"""Session defaults fitted to the machine (no Spark started here)."""

from crawler_news_spark.session import MAX_DRIVER_MEM_MB, driver_mem_default


def test_driver_mem_default_is_half_of_ram_capped():
    assert driver_mem_default(16_479_424) == "8046m"  # 15.7 GiB machine
    assert driver_mem_default(4 * 1024**2) == "2048m"
    assert driver_mem_default(512 * 1024**2) == f"{MAX_DRIVER_MEM_MB}m"  # cap
    assert driver_mem_default(None) == f"{MAX_DRIVER_MEM_MB}m"  # unknown RAM
