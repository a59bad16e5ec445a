"""Every ``scripts/<name>.py|.sh`` that the run instructions, SCALE.md
or the package's own sources name must exist, so deleting a script
without updating its callers fails here rather than at the next
evidence regeneration.  Likewise every evidence record
(``<NAME>.json``) that the docs cite must exist under ``evidence/`` or
at the repo root: ``scripts/check_scale_evidence.py`` only asserts the
other direction (an existing record is cited).  And no script may put
an absolute path on ``sys.path``: run from another checkout it would
import that fixed tree instead of its own.  No SparkSession needed."""

from __future__ import annotations

import os
import re

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ("README.md", ".claude/skills/verify/SKILL.md",
        "scripts/regenerate_evidence.sh", "SCALE.md")
SCRIPT_REF = re.compile(r"\bscripts/[A-Za-z0-9_]+\.(?:py|sh)\b")
PACKAGE = "ecommerce_data_engineering_spark"
RECORD_DOCS = ("README.md", "SCALE.md", ".claude/skills/verify/SKILL.md")
# a concrete record name; templates such as SCALE_SWEEP_seed{1,2,3}.json
# or SCALE_SWEEP*.json do not match
RECORD_REF = re.compile(r"\b[A-Z][A-Za-z0-9_]*\.json\b")


def _missing_scripts(refs):
    return sorted(r for r in refs
                  if not os.path.isfile(os.path.join(HERE, r)))


@pytest.mark.parametrize("doc", DOCS)
def test_named_scripts_exist(doc):
    with open(os.path.join(HERE, doc)) as f:
        refs = set(SCRIPT_REF.findall(f.read()))
    assert refs, f"{doc} names no scripts; is the pattern still right?"
    missing = _missing_scripts(refs)
    assert not missing, f"{doc} names missing scripts: {missing}"


def test_scripts_named_in_the_package_exist():
    missing = []
    for root, _, files in os.walk(os.path.join(HERE, PACKAGE)):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    refs = set(SCRIPT_REF.findall(f.read()))
                missing += [f"{os.path.relpath(path, HERE)}: {r}"
                            for r in _missing_scripts(refs)]
    assert not missing, f"package sources name missing scripts: {missing}"


@pytest.mark.parametrize("doc", RECORD_DOCS)
def test_named_records_exist(doc):
    with open(os.path.join(HERE, doc)) as f:
        refs = set(RECORD_REF.findall(f.read()))
    assert refs, f"{doc} names no records; is the pattern still right?"
    missing = sorted(
        r for r in refs
        if not any(os.path.isfile(os.path.join(HERE, d, r))
                   for d in ("evidence", "")))
    assert not missing, f"{doc} names missing records: {missing}"


# a sys.path edit whose argument holds a string literal starting at "/"
ABSOLUTE_SYS_PATH = re.compile(r"""sys\.path\b[^\n]*?["']/""")


def test_no_script_puts_an_absolute_path_on_sys_path():
    offenders = []
    scripts = os.path.join(HERE, "scripts")
    for root, _, files in os.walk(scripts):
        for name in files:
            path = os.path.join(root, name)
            with open(path, errors="replace") as f:
                for n, line in enumerate(f, 1):
                    if ABSOLUTE_SYS_PATH.search(line):
                        offenders.append(
                            f"{os.path.relpath(path, HERE)}:{n}")
    assert not offenders, offenders
