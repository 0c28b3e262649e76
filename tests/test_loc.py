"""``scripts/loc.py`` — the code-line counter every simplicity change
reports its net size with — pinned on a tiny source: docstrings,
comment-only and blank lines do not count; every line a multi-line
call spans does."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

_LOC = Path(__file__).resolve().parent.parent / "scripts" / "loc.py"
_spec = importlib.util.spec_from_file_location("loc", _LOC)
loc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(loc)

SRC = '''"""Module docstring,
two lines."""

import os  # trailing comment


# a comment-only line
def small(a):
    """Function docstring."""
    return a


def big(a, b):
    x = max(
        a,
        b,
    )

    return x
'''


def test_code_lines_skip_docstrings_comments_and_blanks():
    lines, _ = loc.code_lines(SRC)
    assert sorted(lines) == [4, 8, 10, 13, 14, 15, 16, 17, 19]


def test_functions_listing_is_largest_first(tmp_path, monkeypatch, capsys):
    path = tmp_path / "mod.py"
    path.write_text(SRC, encoding="utf-8")
    monkeypatch.setattr(sys, "argv", ["loc.py", "--functions", "5", str(path)])
    loc.main()
    out = [ln.split() for ln in capsys.readouterr().out.splitlines() if ln]
    assert [(n, f.rsplit("/", 1)[-1], name) for n, f, *name in out] == [
        ("9", "mod.py", []),
        ("6", "mod.py:13", ["big"]),
        ("2", "mod.py:8", ["small"]),
        ("9", "total", []),
    ]
