"""Every ``tools/`` file the code cites must exist.

Comments and docstrings in the package, the tests and bench.py point
at tools and their measured artifacts as evidence.  A citation of a
deleted file belongs in its git-revision form (``<sha>:tools/x.py``),
which this guard skips.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# repo-root-relative only: not preceded by a word character, a path
# separator, or the ``<rev>:`` of a git-revision citation
_CITATION = re.compile(r"(?<![\w:/])tools/[\w\-.]+?\.(?:py|json|jsonl|log)\b")


def test_cited_tools_files_exist():
    sources = [
        REPO / "bench.py",
        *sorted((REPO / "aind_smartspim_data_transformation_spark").rglob("*.py")),
        *sorted((REPO / "tests").rglob("*.py")),
    ]
    cited = {
        (m.group(0), src.relative_to(REPO).as_posix())
        for src in sources
        for m in _CITATION.finditer(src.read_text())
    }
    assert cited, "the scan found no citations at all"
    missing = sorted((rel, src) for rel, src in cited if not (REPO / rel).is_file())
    assert not missing, f"cited tools files missing: {missing}"
