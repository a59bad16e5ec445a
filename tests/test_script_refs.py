"""Every ``scripts/<name>.py|.sh`` that the run instructions name must
exist, so deleting a script without updating its callers fails here
rather than at the next evidence regeneration.  No SparkSession
needed."""

from __future__ import annotations

import os
import re

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ("README.md", ".claude/skills/verify/SKILL.md",
        "scripts/regenerate_evidence.sh")
SCRIPT_REF = re.compile(r"\bscripts/[A-Za-z0-9_]+\.(?:py|sh)\b")


@pytest.mark.parametrize("doc", DOCS)
def test_named_scripts_exist(doc):
    with open(os.path.join(HERE, doc)) as f:
        refs = set(SCRIPT_REF.findall(f.read()))
    assert refs, f"{doc} names no scripts; is the pattern still right?"
    missing = sorted(r for r in refs
                     if not os.path.isfile(os.path.join(HERE, r)))
    assert not missing, f"{doc} names missing scripts: {missing}"
