"""Every ``scripts/<name>.py`` path named in the README, the verify
skill, the package or the tests exists, so a deleted or moved script
cannot stay cited as the way to reproduce a number."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# a relative path ending in scripts/<name>.py, nested ones included
PATH_RE = re.compile(r"(?<![\w/.-])((?:[\w.-]+/)*scripts/\w+\.py)")


def _sources():
    yield ROOT / "README.md"
    yield ROOT / ".claude" / "skills" / "verify" / "SKILL.md"
    yield from sorted((ROOT / "datapump_spark").rglob("*.py"))
    yield from sorted((ROOT / "tests").rglob("*.py"))


def test_cited_script_paths_exist():
    seen, missing = set(), []
    for src in _sources():
        if not src.exists():
            continue
        for n, line in enumerate(src.read_text().splitlines(), 1):
            for path in PATH_RE.findall(line):
                seen.add(path)
                if not (ROOT / path).is_file():
                    missing.append(f"{src.relative_to(ROOT)}:{n}: {path}")
    assert not missing, "\n".join(missing)
    assert {"scripts/run_queries.py", "scripts/check_oracle.py"} <= seen
