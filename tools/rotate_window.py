"""Round-N window rotation helper: staleness report over the driver's
CORRECTNESS_r*.json record plus the windows committed since — per-query
last-checked round, grouped into tiers (oldest first), plus the
never-checked list, SQL-oracled first. Each commit of
crz_scraper_spark/plans/registry.py after the newest CORRECTNESS record
counts as one further round that checked that commit's `_FIRST_WINDOW`.
Window slots must be oracled (tests/test_integrity.py), so rows-only
queries are listed separately and never rotated in: each is the
hash-seeded/sketch-library tier of an operator whose portable twin IS
oracled and windowed.

Usage: python tools/rotate_window.py   (needs the repo's git history)
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY_PATH = "crz_scraper_spark/plans/registry.py"
sys.path.insert(0, REPO)

from crz_scraper_spark.plans.registry import _FIRST_WINDOW, REGISTRY  # noqa: E402


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout


def committed_windows(record: str) -> list[tuple[str, list[str]]]:
    """(commit, `_FIRST_WINDOW`) for each commit of the registry after the
    commit that last touched ``record``, oldest first."""
    base = _git("log", "-1", "--format=%H", "--", record).strip()
    commits = _git(
        "log", "--reverse", "--format=%h", f"{base}..HEAD", "--", REGISTRY_PATH
    ).split()
    out = []
    for commit in commits:
        tree = ast.parse(_git("show", f"{commit}:{REGISTRY_PATH}"))
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and getattr(node.targets[0], "id", None) == "_FIRST_WINDOW"
            ):
                out.append((commit, ast.literal_eval(node.value)))
    return out


def main() -> None:
    checked: set = set()
    last: dict[str, int] = {}
    records = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    for p in records:
        rnd = int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        names = set(json.load(open(p)))
        checked |= names
        for q in names:
            last[q] = max(last.get(q, 0), rnd)
        print(f"{os.path.basename(p)}: {len(names)} queries")
    for commit, window in committed_windows(os.path.basename(records[-1])):
        rnd += 1
        names = set(window) & set(REGISTRY)
        checked |= names
        for q in names:
            last[q] = rnd
        print(f"{commit} registry window, r{rnd}: {len(names)} queries")
    # staleness tiers: oldest-first, registry order inside a tier — the
    # refresh slots of the next window take these top-down (oracled only)
    tiers: dict[int, list[str]] = {}
    for q in REGISTRY:
        if q in last:
            tiers.setdefault(last[q], []).append(q)
    print("\nstaleness tiers (oldest first; * = rows-only, not rotatable):")
    for rnd in sorted(tiers):
        qs = [
            q + ("*" if REGISTRY[q][1] is None else "")
            for q in tiers[rnd]
        ]
        print(f"  last checked r{rnd} ({len(qs)}): {', '.join(qs)}")
    never = [q for q in REGISTRY if q not in checked]
    oracled = [q for q in never if REGISTRY[q][1] is not None]
    rows_only = [q for q in never if REGISTRY[q][1] is None]
    in_window = [q for q in never if q in _FIRST_WINDOW]
    print(
        f"\n{len(REGISTRY)} registry, {len(checked)} ever checked, "
        f"{len(never)} never ({len(in_window)} already in current window)"
    )
    print(f"\nnever-checked, SQL-oracled ({len(oracled)}):")
    for q in oracled:
        mark = " [in current window]" if q in _FIRST_WINDOW else ""
        print(f"  {q}{mark}")
    print(f"\nnever-checked, rows-only ({len(rows_only)}):")
    for q in rows_only:
        print(f"  {q}")


if __name__ == "__main__":
    main()
