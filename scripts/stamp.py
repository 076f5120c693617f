"""Git stamp for generated receipts: `tree_commit` plus `tree_dirty`.

Every receipt writer (bench.py, window_drill.py, mem_smoke.py,
stream_state.py, oracle_sf01.py, query_fuzz.py) stamps through
:func:`tree_stamp`, so a committed JSON names the code it measured.
Generated receipts themselves do not make the tree dirty.
"""

from __future__ import annotations

import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Repo-root files that are generated outputs, not code.
ARTIFACTS = (
    "BENCH_FULL.json",
    "ORACLE_LOCAL.json",
    "SCALING.md",
    "PLANS.md",
    "MEMGUARD.json",
    "WINDOW_DRILL.json",
    "STREAMSTATE.json",
    "ORACLE_SF01.json",
    "FUZZ.json",
    "ARCHITECTURE.md",
)
ARTIFACT_PREFIXES = ("BENCH_r", "CORRECTNESS_r", "PERF_r", "VERIFY_r")
ARTIFACT_GLOBS = tuple(p + "*.json" for p in ARTIFACT_PREFIXES)

# Review documents written outside the code; they never alter a reading.
JUDGE_DOCS = ("VERDICT.md", "ADVICE.md")


def _is_artifact(path: str) -> bool:
    """True iff a repo-relative path names a generated artifact.
    Artifacts live at the repo root only, and matching is by full glob,
    not prefix: BENCH_refactor.py and sub/BENCH_r08.json are code."""
    import fnmatch

    if "/" in path or "\\" in path:
        return False
    return path in ARTIFACTS or any(
        fnmatch.fnmatch(path, g) for g in ARTIFACT_GLOBS
    )


def tree_stamp(repo: Path = REPO) -> dict:
    """{"tree_commit": short HEAD, "tree_dirty": bool}. Dirty means any
    path in `git status --porcelain` (post-rename path for renames) that
    is neither an artifact nor a review document. Returns {} when not a
    git checkout."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()
        paths = [
            line[3:].split(" -> ")[-1]
            for line in subprocess.run(
                ["git", "status", "--porcelain"],
                cwd=repo, capture_output=True, text=True, check=True,
            ).stdout.splitlines()
        ]
        dirty = any(
            not _is_artifact(p) and p not in JUDGE_DOCS for p in paths
        )
        return {"tree_commit": head, "tree_dirty": dirty}
    except Exception:  # noqa: BLE001 — not a git checkout
        return {}
