"""Artifact-hygiene check: registry vs generated artifacts.

Asserts, without running Spark:
  (a) registry names == latest LOCALGATE_r*.json query names (the local
      gate artifact must cover exactly the registered catalog — the r5
      verdict caught a 231≠232 drift this check would have flagged);
  (b) PLANS.md ``## <name>`` section count == registry count;
  (c) QUERIES.md row count == registry count;
  (d) every witness_fps.json / witness_tombstones.json key ∈ registry;
  (e) no harness in ``binaryx_graph_spark/queries/`` makes its own temp
      dir: ``tempfile.mkdtemp(`` and a hand-keyed
      ``hashlib.md5(os.path.abspath(sf_dir)`` appear only in
      ``queries/_harness.py`` (``scratch_root``) and the two
      content-addressed fixture caches, whose race-safe stage must stay
      unique (``ingest_demo.graph_tables``,
      ``cypher_write_queries._replayed_warehouse``).

Run in the end-of-round snapshot (and any time after registering or
removing a query).  Exit code 1 on any drift.

Usage: python -m tools.check_artifacts
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binaryx_graph_spark.registry import load_all  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the temp-dir idioms check (e) confines to the shared helper
_TEMP_IDIOMS = ("tempfile.mkdtemp(", "hashlib.md5(os.path.abspath(sf_dir)")
#: (module, top-level function) allowed to use them besides _harness.py
_TEMP_ALLOWED = {
    ("ingest_demo.py", "graph_tables"),
    ("cypher_write_queries.py", "_replayed_warehouse"),
}


def temp_idiom_sites(queries_dir: str) -> list[str]:
    """``file:line (function)`` of every temp-dir idiom in the query
    modules outside ``_harness.py`` and the allowed cache builds."""
    sites = []
    for path in sorted(glob.glob(os.path.join(queries_dir, "*.py"))):
        fname = os.path.basename(path)
        if fname == "_harness.py":
            continue
        with open(path) as f:
            src = f.read()
        owner = {}  # line -> enclosing top-level function
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef):
                for ln in range(node.lineno, node.end_lineno + 1):
                    owner[ln] = node.name
        for ln, line in enumerate(src.splitlines(), start=1):
            fn = owner.get(ln, "<module>")
            if any(i in line for i in _TEMP_IDIOMS) and (fname, fn) not in _TEMP_ALLOWED:
                sites.append(f"{fname}:{ln} ({fn})")
    return sites


def main() -> int:
    reg = load_all()
    names = set(reg)
    problems: list[str] = []

    # (a) latest LOCALGATE covers exactly the registry
    gates = sorted(glob.glob(os.path.join(REPO, "LOCALGATE_r*.json")))
    if gates:
        latest = gates[-1]
        with open(latest) as f:
            gate = json.load(f)
        gate_names = set(gate.get("queries", {}))
        missing = sorted(names - gate_names)
        extra = sorted(gate_names - names)
        if missing:
            problems.append(f"(a) {os.path.basename(latest)} missing {len(missing)} registered queries: {missing[:10]}")
        if extra:
            problems.append(f"(a) {os.path.basename(latest)} has {len(extra)} unregistered names: {extra[:10]}")
    else:
        problems.append("(a) no LOCALGATE_r*.json artifact found")

    # (b) PLANS.md section count
    plans_path = os.path.join(REPO, "PLANS.md")
    if os.path.exists(plans_path):
        with open(plans_path) as f:
            plan_names = set(re.findall(r"^## (\S+)$", f.read(), re.M))
        if plan_names != names:
            problems.append(
                f"(b) PLANS.md has {len(plan_names)} sections vs {len(names)} registered"
                f" (missing: {sorted(names - plan_names)[:10]}, extra: {sorted(plan_names - names)[:10]})"
            )
    else:
        problems.append("(b) PLANS.md not found")

    # (c) QUERIES.md row count
    queries_path = os.path.join(REPO, "QUERIES.md")
    if os.path.exists(queries_path):
        with open(queries_path) as f:
            q_names = set(re.findall(r"^\| `([^`]+)` \|", f.read(), re.M))
        if q_names != names:
            problems.append(
                f"(c) QUERIES.md has {len(q_names)} rows vs {len(names)} registered"
                f" (missing: {sorted(names - q_names)[:10]}, extra: {sorted(q_names - names)[:10]})"
            )
    else:
        problems.append("(c) QUERIES.md not found")

    # (d) ledger keys all registered
    for fname in ("witness_fps.json", "witness_tombstones.json"):
        path = os.path.join(REPO, "tools", fname)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            keys = set(json.load(f))
        bad = sorted(keys - names)
        if bad:
            problems.append(f"(d) {fname} keys not in registry: {bad[:10]}")

    # (e) one temp-dir idiom for the harnesses
    sites = temp_idiom_sites(os.path.join(REPO, "binaryx_graph_spark", "queries"))
    if sites:
        problems.append(f"(e) temp dirs made outside queries/_harness.py: {sites[:10]}")

    if problems:
        print(f"ARTIFACT DRIFT ({len(problems)}):")
        for p in problems:
            print(" -", p)
        return 1
    print(
        f"artifacts consistent: {len(names)} queries across registry, LOCALGATE, "
        "PLANS.md, QUERIES.md, ledgers; harness temp dirs via queries/_harness.py"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
