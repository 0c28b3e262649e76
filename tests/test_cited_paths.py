"""Every ``scripts/…`` or ``plans/…`` path cited by the live sources
exists in the tree.

Live sources are the package's ``.py`` files, ``bench.py``,
``tests/*.py``, ``scripts/*`` and ``README.md``. A citation written as
``git show <sha>:path`` points at history and is exempt. Round-tagged
records (``SCALE.md``, ``OPTIMIZATION_r*``, ``VERDICT.md``,
``CHANGES.md``, ``ROADMAP.md``) are history and are not scanned.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# a repo-relative path: not the tail of a longer path
# (``pkg/plans/inspect.py``), and ending in a name character so
# templates (``plans/<tag>/…``) and trailing punctuation drop out
_CITED = re.compile(r"(?<![\w./-])((?:scripts|plans)/[\w./-]*\w)")
_HISTORY = re.compile(r"git\s+show\s+[0-9a-f]{7,40}:\S+")


def _live_sources() -> list[Path]:
    files = sorted((ROOT / "nursinghome_data_pipeline_spark").rglob("*.py"))
    files += sorted((ROOT / "tests").glob("*.py"))
    files += sorted(p for p in (ROOT / "scripts").iterdir() if p.is_file())
    return files + [ROOT / "bench.py", ROOT / "README.md"]


def dangling_citations(text: str, root: Path = ROOT) -> list[str]:
    """The cited ``scripts/``/``plans/`` paths in ``text`` that do not
    exist under ``root`` (``git show <sha>:path`` citations exempt)."""
    live = _HISTORY.sub("", text)
    return [m for m in _CITED.findall(live) if not (root / m).exists()]


def test_guard_flags_a_retired_path_and_exempts_history():
    gone = "scripts" + "/no_such_probe.py"
    assert dangling_citations(f"measured by ``{gone} --ivf``") == [gone]
    assert dangling_citations(f"``git show 3b25c0b:{gone}``") == []
    assert dangling_citations("see scripts/measure.py.") == []
    assert dangling_citations("pkg/plans/inspect.py, plans/<tag>/x") == []


def test_cited_scripts_and_plans_paths_exist():
    missing = {
        str(p.relative_to(ROOT)): bad
        for p in _live_sources()
        if (bad := dangling_citations(p.read_text(encoding="utf-8")))
    }
    assert not missing, missing
