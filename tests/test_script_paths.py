"""Tools and scripts import the checkout they sit in.

A script that puts a fixed absolute checkout on ``sys.path`` imports
that checkout even when it runs from a copy, so a comparison of two
copies would silently measure one of them twice.  Spark-free."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
ABSOLUTE_SYS_PATH = re.compile(r"sys\.path\.insert\(\s*0\s*,\s*['\"]/")


def test_tools_and_scripts_name_no_fixed_checkout():
    offenders = [
        str(f.relative_to(ROOT))
        for d in ("tools", "scripts")
        for f in sorted((ROOT / d).rglob("*.py"))
        if str(ROOT) in f.read_text() or ABSOLUTE_SYS_PATH.search(f.read_text())
    ]
    assert offenders == []
