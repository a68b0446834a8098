"""Generated and hand-kept indexes stay in sync with what they index:
QUERIES.md with the registry (it is generated by tools/gen_queries_md.py;
this pins that it was re-run after the last registry change), and
README's tool table with the scripts under tools/."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_md_is_current():
    from tvbigdataproject_spark.queries import REGISTRY

    with open("QUERIES.md") as fh:
        text = fh.read()
    listed = set(re.findall(r"^\| (\w+) \|", text, flags=re.M))
    listed.discard("query")  # header row
    registered = set(REGISTRY)
    missing = registered - listed
    stale = listed - registered
    assert not missing, f"regenerate QUERIES.md: missing {sorted(missing)[:5]}"
    assert not stale, f"regenerate QUERIES.md: stale {sorted(stale)[:5]}"


def test_readme_tool_table_names_every_tool_script():
    with open(os.path.join(ROOT, "README.md")) as fh:
        listed = set(re.findall(r"^tools/(\w+\.(?:py|sh))\s", fh.read(), flags=re.M))
    scripts = {
        f for f in os.listdir(os.path.join(ROOT, "tools")) if f.endswith((".py", ".sh"))
    }
    assert listed == scripts, (
        f"README lists missing scripts {sorted(listed - scripts)}, "
        f"omits {sorted(scripts - listed)}"
    )
