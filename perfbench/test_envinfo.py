import pytest

from envinfo import parse_steal

# guest (field 9) and steal (field 8) differ, so reading the wrong one shows
PROC_STAT = """cpu  389694 0 27205 738148 400 0 12935 34332 777 5
cpu0 92800 0 7855 187824 212 0 4291 9585 0 0
intr 123 4 5
"""


def test_steal_is_field_8_not_guest():
    assert parse_steal(PROC_STAT) == 34332


def test_missing_cpu_line_is_refused():
    with pytest.raises(ValueError):
        parse_steal("intr 1 2 3\n")
    with pytest.raises(ValueError):
        parse_steal("cpu  1 2 3\n")
