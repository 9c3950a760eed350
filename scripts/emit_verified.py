#!/usr/bin/env python
"""Emit VERIFIED.json — the machine-readable verification ledger.

For every registry query: the latest round with a green driver row in
CORRECTNESS_r*.json, plus the surfaced alias it was verified under.
The entry files of rounds 2-13 carry a literal ``DRIVER_PRIORITY``
alias table (some with aliases such as ``q0_tpch21_waiting_suppliers``),
so for those rounds the table is replayed from git history
(``__spark_entry__.py`` as of the round's artifact commit). Other entry
files alias by rule, which :func:`unalias` inverts.

Usage: python scripts/emit_verified.py
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def unalias(surfaced: str, registry) -> str:
    """Invert the entry file's ``_alias``: ``q0_X`` is ``q_X`` when that
    is a registry name, else ``X`` (a TPC-H name, which starts with
    ``q<digit>``). Other names are surfaced unaliased."""
    if not surfaced.startswith("q0_"):
        return surfaced
    rest = surfaced[3:]
    return f"q_{rest}" if f"q_{rest}" in registry else rest


def _alias_map_at(commit: str | None) -> dict[str, str] | None:
    """surfaced-name -> original-name from the literal ``DRIVER_PRIORITY``
    table as of the given commit; None when the entry file has none.

    ``commit=None`` reads the WORKING TREE entry file instead — used
    for driver artifacts that exist on disk but are not yet committed
    (the one-round ledger lag called out in VERDICT r8/r9: the driver
    writes CORRECTNESS_rN.json after the snapshot commit, so ``git log
    -- <artifact>`` is empty until the next round's first commit).
    """
    if commit is None:
        with open(os.path.join(HERE, "__spark_entry__.py")) as f:
            src = f.read()
    else:
        try:
            src = subprocess.run(
                ["git", "show", f"{commit}:__spark_entry__.py"],
                cwd=HERE, capture_output=True, text=True, check=True,
            ).stdout
        except subprocess.CalledProcessError:
            return {}
    if "DRIVER_PRIORITY" not in src:
        return None
    # Execute only the alias-table portion: strip everything from the
    # first import of the package (the table is pure literals above it
    # in every revision).
    ns: dict = {"__file__": os.path.join(HERE, "__spark_entry__.py")}
    head = src.split("def _surface_name", 1)[0]
    head = re.sub(r"^from cosmos_xenna_spark.*$", "", head, flags=re.M)
    head = re.sub(r"^from pyspark.*$", "", head, flags=re.M)
    try:
        exec(compile(head, "<entry>", "exec"), ns)  # noqa: S102
    except Exception:
        return {}
    prio = ns.get("DRIVER_PRIORITY") or {}
    return {alias: orig for orig, alias in prio.items()}


def _green_rows(path: str) -> list[str]:
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return []
    rows = doc.get("results", doc) if isinstance(doc, dict) else {}
    out = []
    for name, row in rows.items():
        if not isinstance(row, dict):
            continue
        checks = [v for k, v in row.items() if k.endswith("_match") and isinstance(v, bool)]
        ok = bool(checks) and all(checks)
        if not checks and row.get("rows") is not None:
            ok = True  # rows-only verdict
        if ok:
            out.append(name)
    return out


def build() -> dict:
    """Reconstruct the full ledger doc from artifacts + git history.

    Pure: returns the doc without writing it, so the freshness gate in
    ``tests/test_monitoring_artifacts.py`` can rebuild and diff against
    the committed VERIFIED.json (VERDICT r7 #2).
    """
    # Round artifact -> the commit that introduced it (the rotation in
    # force when the driver ran is the parent tree's entry file, which
    # is identical at that commit).
    artifacts = sorted(
        f for f in os.listdir(HERE) if re.fullmatch(r"CORRECTNESS_r\d+\.json", f)
    )
    from cosmos_xenna_spark.queries import load_registry  # noqa: E402

    reg = load_registry()
    ledger: dict[str, dict] = {}
    pending: list[str] = []
    for art in artifacts:
        rnd = int(re.search(r"r(\d+)", art).group(1))
        commit = subprocess.run(
            ["git", "log", "--format=%H", "-1", "--", art],
            cwd=HERE, capture_output=True, text=True, check=True,
        ).stdout.strip()
        if commit:
            amap = _alias_map_at(commit)
        else:
            # Artifact present but not yet committed: the rotation in
            # force when the driver ran is the CURRENT entry file (the
            # driver runs against HEAD of the round it graded). Use the
            # working tree and mark the ledger so the next commit is
            # known to carry fresher rows than history shows.
            amap = _alias_map_at(None)
            pending.append(art)
        for surfaced in _green_rows(os.path.join(HERE, art)):
            if amap is None:
                original = unalias(surfaced, reg)
            else:
                original = amap.get(surfaced, surfaced)
            prev = ledger.get(original)
            if prev is None or rnd >= prev["round"]:
                ledger[original] = {"round": rnd, "alias": surfaced}

    doc = {
        "queries": {
            name: ledger.get(
                name,
                {"round": None, "alias": None},
            )
            | {"oracle": reg[name].oracle is not None}
            for name in sorted(reg)
        },
        "verified": sum(1 for n in reg if n in ledger),
        "total": len(reg),
        "oracle_able": sum(1 for n in reg if reg[n].oracle is not None),
    }
    if pending:
        doc["pending_commit_artifacts"] = pending
    return doc


def main() -> None:
    doc = build()
    with open(os.path.join(HERE, "VERIFIED.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=False)
    print(json.dumps({k: doc[k] for k in ("verified", "total", "oracle_able")}))


if __name__ == "__main__":
    main()
