"""Every evidence file the program cites by name exists in the repo.

Docstrings and comments in the package, the tools and bench.py justify
design choices by pointing at root-level ledgers (``SCALING.md``,
``GATE_FINGERPRINTS.json``, ...). A citation whose file was renamed or
never committed leaves the reason unverifiable, so a dangling one fails
here instead of surviving until someone tries to follow it.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a bare NAME.md / NAME.json (capitalised, as the root ledgers are named);
# a name after "/" or "." is a path into some other directory, and a name
# glued to "{", "*" or "-" is a pattern, not one file
_CITED = re.compile(r"(?<![\w/.{*-])([A-Z][A-Za-z0-9_]*\.(?:md|json))\b")


def _sources():
    yield os.path.join(REPO, "bench.py")
    for top in ("assemblagedb_spark", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for name in files:
                if name.endswith(".py"):
                    yield os.path.join(root, name)


def test_cited_root_artifacts_exist():
    cited: dict[str, set[str]] = {}
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            for name in _CITED.findall(fh.read()):
                cited.setdefault(name, set()).add(os.path.relpath(path, REPO))
    assert "GATE_FINGERPRINTS.json" in cited  # the scan reaches the package
    missing = {
        name: sorted(where)
        for name, where in cited.items()
        if not os.path.isfile(os.path.join(REPO, name))
    }
    assert not missing, f"cited but absent at the repo root: {missing}"
