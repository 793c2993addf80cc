"""tools/ holds only scripts with a named use.

Every ``tools/*.py`` is listed with its purpose in the README layout.  The
scripts deleted once their result was recorded are the ones PERF.md's
"Deleted probes" index names; no package module, test or harness may
import or cite them.
"""

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(rel):
    with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
        return f.read()


def _kept():
    return sorted(fn for fn in os.listdir(os.path.join(ROOT, "tools")) if fn.endswith(".py"))


def _deleted():
    perf = _read("PERF.md")
    section = perf[perf.index("\n## Deleted probes\n"):]
    nxt = section.find("\n## ", 1)
    section = section if nxt < 0 else section[:nxt]
    return sorted(set(re.findall(r"^\| `tools/(\w+)\.py` \|", section, re.M)))


def _sources():
    """Package modules, tests and harness files (bench.py, the driver entry,
    perfbench/, tools/), as (relative path, text)."""
    files = ["bench.py", "__spark_entry__.py"]
    for top in ("memory_opensource_spark", "tests", "perfbench", "tools"):
        for root, _, fns in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(root, fn), ROOT)
                      for fn in fns if fn.endswith((".py", ".md"))]
    here = os.path.relpath(os.path.abspath(__file__), ROOT)
    return [(rel, _read(rel)) for rel in sorted(files) if rel != here]


def test_every_tool_is_listed_with_a_purpose():
    readme = _read("README.md")
    for fn in _kept():
        assert re.search(rf"^\s+{re.escape(fn)}\s+\S", readme, re.M), (
            f"tools/{fn} has no purpose line in the README layout")


def test_deleted_probes_stay_deleted_and_uncited():
    deleted = _deleted()
    assert len(deleted) >= 28
    assert not set(deleted) & {fn[:-3] for fn in _kept()}
    names = "|".join(deleted)
    # a path, a module path or an import cites a script; a bare word, which
    # may be plain English, does not
    cite = re.compile(rf"tools[/.](?:{names})\b|\b(?:{names})\.py\b"
                      rf"|\b(?:import|from)\s+(?:{names})\b")
    hits = [f"{rel}:{text.count(chr(10), 0, m.start()) + 1}: {m.group(0)}"
            for rel, text in _sources() for m in cite.finditer(text)]
    assert not hits, "deleted probe scripts are still cited:\n" + "\n".join(hits)
