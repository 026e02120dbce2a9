"""Every repo path the working docs cite exists (no Spark).

A citation is a token with a directory part and a file extension, such
as `operators/pairs.py:120` or `BENCH/BASELINE.md`; an optional `:line`
suffix is ignored.  It resolves against the repo root or the package
directory, which is how the docs abbreviate package modules."""

import os
import re

import pytest

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
PKG = os.path.join(ROOT, "simhash_text_dedup_spark")
DOCS = ["README.md", "CLAUDE.md", "ARCHITECTURE.md", "COVERAGE.md",
        ".claude/skills/verify/SKILL.md"]
# relative paths only: a token preceded by '/' or a word char is part of
# an absolute path or a longer word
_CITATION = re.compile(
    r"(?<![\w./-])((?:[\w.-]+/)+[\w.-]+\.(?:py|md|json|txt))(?::\d+(?:-\d+)?)?(?![\w/])"
)


def _citations(doc: str) -> list[str]:
    with open(os.path.join(ROOT, doc)) as f:
        return sorted({m.group(1) for m in _CITATION.finditer(f.read())})


@pytest.mark.parametrize("doc", DOCS)
def test_cited_paths_exist(doc):
    cited = _citations(doc)
    assert cited, f"{doc} cites no paths: the citation pattern is stale"
    missing = [p for p in cited
               if not any(os.path.exists(os.path.join(base, p)) for base in (ROOT, PKG))]
    assert not missing, f"{doc} cites paths that do not exist: {missing}"
