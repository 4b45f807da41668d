"""Modified-since-certification detector (round-6 verdict item 2).

A driver certification (CORRECTNESS_rN.json green) binds to the TREE the
driver ran, not to the name: rewriting a query after its certifying round
leaves the name certified while the code the driver actually hashed no
longer exists. Round 6 did exactly that to 8+ queries (the
divergence-class rewrites), and the judge flagged the gap. This tool makes
staleness mechanical instead of a judge spot-check:

- Maps each driver round N to its CERTIFIED COMMIT: the parent of the
  driver's ``round N: verdict/advice/correctness/bench`` commit (the driver
  runs the gate on the builder's final tree, then commits the artifacts on
  top — judge-verified mtime ordering, VERDICT r6).
- For every name the CORRECTNESS artifacts record as green (or rows-only),
  takes its latest green round, materializes that round's certified commit
  in a temp ``git worktree``, and dumps ``inspect.getsource(fn)`` + the oracle
  SQL string from a subprocess importing THAT tree.
- A name is STALE when its function source, its oracle SQL, or the digest
  of its transitive package-helper closure (``tools/closure_hash.py`` —
  every ``operators/``/``functions/`` symbol the query body can reach,
  hashed with the CURRENT logic on BOTH trees) differs at HEAD from the
  certified dump. Helper-closure drift was added per the r7 verdict
  (item 2): round 7's one live bug was a stale-cert query, and a shared
  helper edit previously left its callers marked fresh.

Dumps are cached per commit hash (immutable trees) under
``.stale_cache/`` (gitignored).

The committed CORRECTNESS_r*.json artifacts are the only record of driver
outcomes: ``classify`` is the one rule that turns a row into green /
rows_only / red / error, and ``driver_history`` / ``latest_green_round``
(also used by ``next_window.py``) are both built on it, so a new artifact
counts as soon as it is committed.

Usage: python tools/stale_certs.py [--json]
Library: ``compute_stale() -> dict[name, {round, commit, why}]``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(REPO, ".stale_cache")

# argv: [1]=tree to import the package from, [2]=output json, [3]=the
# CURRENT repo's tools dir — old trees are hashed with the CURRENT
# closure_hash logic so helper-closure digests compare apples-to-apples.
_DUMP_SNIPPET = r"""
import inspect, json, sys
sys.path.insert(0, sys.argv[1])
sys.path.insert(0, sys.argv[3])
from closure_hash import closure_sha
from cobalt_duckdb_spark.queries import queries, oracle_sql
out = {}
oracles = oracle_sql()
for name, fn in queries().items():
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = repr(fn)
    try:
        helpers = closure_sha(fn)
    except Exception:
        helpers = ""
    out[name] = {
        "src_sha": __import__("hashlib").sha256(src.encode()).hexdigest(),
        "oracle_sha": __import__("hashlib").sha256(
            (oracles.get(name) or "").encode()
        ).hexdigest(),
        "helpers_sha": helpers,
    }
json.dump(out, open(sys.argv[2], "w"))
"""


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], check=True, capture_output=True, text=True
    ).stdout


def certified_commits() -> dict[int, str]:
    """{round: commit} where commit is the tree the driver's gate ran on
    (parent of the driver's artifact commit)."""
    out: dict[int, str] = {}
    for line in _git("log", "--format=%H %s").splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+): verdict/advice/correctness/bench", subject)
        if m:
            rnd = int(m.group(1))
            parent = _git("rev-parse", f"{sha}^").strip()
            # Keep the FIRST (newest-in-log) occurrence per round.
            out.setdefault(rnd, parent)
    return out


GREEN = ("green", "rows_only")


def classify(rec: dict) -> str:
    """Outcome of one CORRECTNESS_r*.json row: 'green', 'rows_only' (an
    oracle-less query that ran; the driver records err='no_oracle'),
    'error' or 'red'."""
    if rec.get("err") == "no_oracle" and rec.get("spark_rows", 0) >= 0:
        return "rows_only"
    if rec.get("err"):
        return "error"
    if (
        rec.get("rows_match")
        and rec.get("schema_match", True)
        and rec.get("hash_match", True)
    ):
        return "green"
    return "red"


def driver_rows() -> list[tuple[int, str, str]]:
    """(round, name, outcome) for every row of every committed
    CORRECTNESS_r*.json, oldest round first."""
    rows = []
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            rows += [(rnd, name, classify(rec)) for name, rec in json.load(f).items()]
    return sorted(rows)


def driver_history() -> dict[str, tuple[int, str]]:
    """{name: (round, outcome)} with each name's LATEST driver outcome."""
    return {name: (rnd, outcome) for rnd, name, outcome in driver_rows()}


def latest_green_round() -> dict[str, int]:
    """{name: round} with each name's most recent green (or rows-only)
    driver certification."""
    return {name: rnd for rnd, name, outcome in driver_rows() if outcome in GREEN}


def _dump_at_commit(commit: str) -> dict[str, dict[str, str]]:
    """Source/oracle hashes of every registry entry at ``commit`` (cached)."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    # v2: dumps carry helpers_sha (transitive closure digests) — the v1
    # cache files lack it and must not satisfy a v2 lookup.
    # v3: closure_hash const keys are module-qualified and max_depth rose
    # 5→12 (ADVICE r8) — v2 digests were computed with the colliding keys.
    cache = os.path.join(CACHE_DIR, f"{commit}.v3.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    with tempfile.TemporaryDirectory(prefix="stale_wt_") as wt:
        tree = os.path.join(wt, "tree")
        subprocess.run(
            ["git", "-C", REPO, "worktree", "add", "--detach", tree, commit],
            check=True, capture_output=True,
        )
        try:
            out_json = os.path.join(wt, "dump.json")
            subprocess.run(
                [
                    sys.executable, "-c", _DUMP_SNIPPET, tree, out_json,
                    os.path.join(REPO, "tools"),
                ],
                check=True, capture_output=True, text=True,
            )
            with open(out_json) as f:
                dump = json.load(f)
        finally:
            subprocess.run(
                ["git", "-C", REPO, "worktree", "remove", "--force", tree],
                check=True, capture_output=True,
            )
    with open(cache, "w") as f:
        json.dump(dump, f)
    return dump


def _dump_head() -> dict[str, dict[str, str]]:
    """Hashes for the CURRENT tree (working copy, not HEAD commit — what the
    next driver run will actually execute)."""
    import inspect

    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from closure_hash import closure_sha
    from cobalt_duckdb_spark.queries import oracle_sql, queries

    out = {}
    oracles = oracle_sql()
    for name, fn in queries().items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = repr(fn)
        try:
            helpers = closure_sha(fn)
        except Exception:
            helpers = ""
        out[name] = {
            "src_sha": hashlib.sha256(src.encode()).hexdigest(),
            "oracle_sha": hashlib.sha256(
                (oracles.get(name) or "").encode()
            ).hexdigest(),
            "helpers_sha": helpers,
        }
    return out


def compute_stale(verified: set[str] | None = None) -> dict[str, dict]:
    """{name: {round, commit, why}} for every certified name whose function
    source or oracle SQL has changed since its certifying round's tree."""
    commits = certified_commits()
    greens = latest_green_round()
    if verified is None:
        verified = set(greens)
    head = _dump_head()
    stale: dict[str, dict] = {}
    by_round: dict[int, list[str]] = {}
    for name in verified:
        rnd = greens.get(name)
        if rnd is None or rnd not in commits:
            continue
        by_round.setdefault(rnd, []).append(name)
    for rnd, names in sorted(by_round.items()):
        cert = _dump_at_commit(commits[rnd])
        for name in names:
            then, now = cert.get(name), head.get(name)
            if then is None or now is None:
                continue
            why = []
            if then["src_sha"] != now["src_sha"]:
                why.append("src")
            if then["oracle_sha"] != now["oracle_sha"]:
                why.append("oracle")
            # Helper-closure drift (r7 verdict item 2): a shared helper
            # edit marks its callers stale even when the query body and
            # oracle are untouched. Empty digests (dump failure) never
            # compare — staleness must come from evidence, not errors.
            if (
                then.get("helpers_sha")
                and now.get("helpers_sha")
                and then["helpers_sha"] != now["helpers_sha"]
            ):
                why.append("helpers")
            if why:
                stale[name] = {
                    "round": rnd,
                    "commit": commits[rnd][:12],
                    "why": "+".join(why),
                }
    return stale


def main() -> int:
    stale = compute_stale()
    if "--json" in sys.argv:
        print(json.dumps(stale, indent=2, sort_keys=True))
    else:
        for name, rec in sorted(stale.items(), key=lambda kv: (kv[1]["round"], kv[0])):
            print(f"  r{rec['round']}  {rec['why']:<10}  {name}")
        print(f"{len(stale)} stale certification(s)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
