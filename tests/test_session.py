"""get_spark's default driver heap follows the machine's memory, so the
driver JVM cannot outgrow the machine it runs on."""

from mre import io


def test_default_driver_mem_is_a_quarter_of_physical_memory(monkeypatch):
    page = 4096
    for gib, want in ((16, "4g"), (15, "3g"), (2, "1g"), (256, "16g")):
        monkeypatch.setattr(
            io.os, "sysconf",
            lambda key, gib=gib: page if key == "SC_PAGE_SIZE"
            else gib * (1 << 30) // page)
        assert io.default_driver_mem() == want, gib
