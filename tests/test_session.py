"""Driver heap sizing in ``get_spark``: half of physical RAM, 1g–32g."""

from __future__ import annotations

from vacancy_gpt_etl_pipeline_spark.session import default_driver_memory

GB = 1 << 30


def test_driver_memory_is_half_of_ram_capped_at_32g():
    assert default_driver_memory(16 * GB) == "8g"
    assert default_driver_memory(15 * GB) == "7g"  # rounds down
    assert default_driver_memory(64 * GB) == "32g"
    assert default_driver_memory(512 * GB) == "32g"
    assert default_driver_memory(GB) == "1g"  # floor, never "0g"


def test_driver_memory_reads_this_machine():
    gb = int(default_driver_memory().removesuffix("g"))
    assert 1 <= gb <= 32
