"""Round-close orchestrator: run every per-round gate in order, on the
code that ships, and print a single summary table.

The repo's verification surface is a set of independent harnesses —
oracle differential, partition-stability, three scale probes, the
window-rotation policy, pytest — each pinned to the live registry by a
contract test. The pins catch a MISSING report but not a STALE one
(round 5 found `STABILITY_r05.json` predating the skew rewrites), so
this tool makes the close-out mechanical: run it after the last code
commit of a round and commit the refreshed artifacts it writes.

Stages (each skippable; heavy Spark stages run SERIALLY — every one
spins a local[*] session and concurrent runs contaminate timings):

1. window   — tools/next_window.py policy gate (fast, no Spark) plus
              the stale-cert dashboard line. The certification state is
              derived from the committed CORRECTNESS_r*.json artifacts,
              so there is nothing to fold by hand.
2. oracle   — tools/check_oracle.py at --sf (full differential)
3. stability— tools/check_stability.py --json STABILITY_r{N}.json
4. dup      — tools/probe_dup.py --json PROBE_r{N}.json
5. skew     — tools/probe_skew.py --json SKEW_r{N}.json
6. scaling  — three-point volume sweep (r6 verdict item 3): builds (or
              reuses) the sf1.0-shaped world via make_world_scale.py, then
              tools/probe_scaling.py --hi2 /tmp/world_sf1 --json
              SCALING_r{N}.json — slopes measured on BOTH legs,
              0.01 -> 0.1 and 0.1 -> 1.0 (100x the gate scale)
7. redraw   — tools/fuzz_redraw.py at BENCH scale (--sf-hi) with two
              round-derived seeds (1000*round + 7 / + 77) that are
              checked against every committed REDRAW_*.json for reuse —
              bench-scale fuzz on fresh worlds found 3 of round 5's 4
              cross-engine bugs; sf0.001 seeds alone found none
              (r5 verdict item 5b).
8. nullworld— tools/fuzz_redraw.py at the differential sf (seed
              1000*round + 177) with ALL five robustness axes on one
              world: --null-permille 10 --degen-permille 10
              --ties-permille 100 --unicode-permille 100
              --extreme-permille 10. Every axis caught real r6
              divergences that 20+ clean worlds could not: NULL order
              keys / collect_list vs list() / min_by vs arg_min (10
              queries), DuckDB ln(0) throws + empty-blob frame plan
              (3), tied min_by winners (ohlc), UTF-16 surrogate
              splitting (char entropy), starved share-of-total
              divisions (ANSI raise vs DuckDB NULL).
9. composed — two composed worlds at BENCH scale (--sf-hi, seeds
              1000*round + 277/278, reuse-checked): ties 1000‰ x sparse
              30‰ and null 300‰ x sparse 30‰ — the two axis interactions
              that found 11 divergences in r6, now at 10x the trials
              (r6 verdict item 4).
10. classbattery — tools/class_battery.py --rotate N: re-runs the PINNED
              divergence-class catcher worlds (manifest:
              tools/class_battery_manifest.json — the exact (sf, seed,
              axis-dose) worlds that caught the ~45 classes fixed in
              r5-r6) plus any committed REDRAW world from rounds 7..N-1,
              so an edit cannot silently resurrect a closed class. Light
              (sf0.001/0.01) worlds all run; heavy (sf0.1) catchers run
              three per close, oldest last-green-round first, tracked in
              the manifest's last_run_round ledger (r8 verdict item 5).
11. bench   — python bench.py, then copy bench_full_latest.json to
              bench_r{N}_full.json
12. pytest  — python -m pytest tests/ -q

Usage:
    python tools/round_close.py --round 6 [--sf /root/testdata/sf0.01]
        [--skip dup skew scaling] [--only oracle pytest]

Timings are wall-clock per stage; exit code is non-zero if any stage
fails. Bench totals are NOT cross-day comparable on this host (see
SCALE.md "Round-5 bench close-out") — the bench stage records, it does
not judge.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def round_seeds(rnd: int) -> list[int]:
    """Two never-used redraw seeds, derived from the round number so the
    choice is mechanical (not builder diligence) and collision-free by
    construction against the r5 ad-hoc seeds (all < 1112)."""
    return [1000 * rnd + 7, 1000 * rnd + 77]


def round_null_seed(rnd: int) -> int:
    """Seed for the per-round NULL-carrying world (fuzz_redraw
    --null-permille): same mechanical derivation, distinct offset."""
    return 1000 * rnd + 177


def round_composed_seed(rnd: int) -> int:
    """Seed base for the per-round composed worlds at BENCH scale (r6
    verdict item 4): uses +277/+278, distinct from redraw (+7/+77) and
    nullworld (+177/+178)."""
    return 1000 * rnd + 277


def used_redraw_seeds(exclude_round: int | None = None) -> set[int]:
    """Seeds appearing in committed REDRAW_*.json artifacts.

    ``exclude_round`` skips REDRAW_r{N:02d}*.json — the artifacts the
    current close itself writes. Without it, re-running round_close for the
    same round after its artifacts are committed (idempotent re-close, e.g.
    to re-verify the shipped tree) trips the freshness gate on its OWN
    seeds and turns the close red with no code change (ADVICE r7, low).
    The gate still rejects reuse of any OTHER round's seeds."""
    used: set[int] = set()
    for path in glob.glob(os.path.join(REPO, "REDRAW_*.json")):
        base = os.path.basename(path)
        if exclude_round is not None and base.startswith(
            f"REDRAW_r{exclude_round:02d}"
        ):
            continue
        try:
            with open(path) as f:
                used.update(json.load(f).get("seeds", []))
        except (OSError, ValueError):
            continue
    return used


def check_window() -> int:
    """Run the next_window.py policy gate (its exit code is the stage's)
    and print the stale-cert dashboard line from its summary."""
    out = subprocess.run(
        [sys.executable, "tools/next_window.py", "--json"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    sys.stdout.write(out.stdout)
    sys.stderr.write(out.stderr)
    if out.returncode != 0:
        return out.returncode
    try:
        summ = json.loads(out.stdout).get("summary", {})
    except ValueError:
        print("window: could not parse next_window.py --json output")
        return 1
    # Stale-cert dashboard line (r8 verdict stretch 8): one line per close
    # so the burn-down trend is visible in PROGRESS.jsonl without running
    # tools/stale_certs.py.
    print(
        f"stale-certs: {summ.get('stale_certs')} "
        f"(src/oracle {summ.get('stale_src_oracle')}, "
        f"helpers-only {summ.get('stale_helpers_only')}), "
        f"in-window {summ.get('stale_in_window')}, "
        f"oldest_cert_round {summ.get('oldest_cert_round')}",
        flush=True,
    )
    return 0


def stage_cmds(
    rnd: int, sf: str, sf_hi: str, battery_all_heavy: bool = False
) -> dict[str, object]:
    py = sys.executable
    seeds = round_seeds(rnd)
    reused = sorted(set(seeds) & used_redraw_seeds(exclude_round=rnd))

    def redraw() -> int:
        if reused:
            print(
                f"redraw: seeds {reused} already appear in a committed "
                "REDRAW_*.json — fresh worlds only (r5: re-used seeds "
                "re-test worlds the code was already fixed against)."
            )
            return 1
        return subprocess.call(
            [
                py, "tools/fuzz_redraw.py", "--sf", sf_hi,
                "--seeds", *[str(s) for s in seeds],
                "--json", f"REDRAW_r{rnd:02d}.json",
            ],
            cwd=REPO,
        )

    def nullworld() -> int:
        # Robustness world at the differential sf, all five axes at once:
        # 1% NULLs (events.value / documents.n_chars), 1% degenerate text
        # (empty / single-token / padded), 10% tied order keys (midnight
        # snap + coarse values), 10% multilingual text (CJK / emoji /
        # combining / RTL), 1% extreme magnitudes (×1e5). Each axis caught
        # real divergences in r6 that 20+ clean worlds could not: NULL
        # order keys / collect_list vs list() / min_by vs arg_min (10
        # queries), DuckDB ln(0) throws + empty-blob sequence (3), tied
        # min_by winners (ohlc), UTF-16 surrogate splitting (char entropy),
        # starved share-of-total divisions (ANSI raise vs NULL).
        nseed = round_null_seed(rnd)
        used = used_redraw_seeds(exclude_round=rnd)
        if nseed in used or (nseed + 1) in used:
            print(
                f"nullworld: seed {nseed}/{nseed + 1} already appears in a "
                "committed REDRAW_*.json — fresh worlds only."
            )
            return 1
        rc = subprocess.call(
            [
                py, "tools/fuzz_redraw.py", "--sf", sf,
                "--seeds", str(nseed), "--null-permille", "10",
                "--degen-permille", "10", "--ties-permille", "100",
                "--unicode-permille", "100", "--extreme-permille", "10",
                "--json", f"REDRAW_r{rnd:02d}n.json",
            ],
            cwd=REPO,
        )
        if rc != 0:
            return rc
        # The sparse axis runs as its OWN world (seed+1): combining it with
        # the dose axes would starve them (10% unicode of a 1% corpus is ~0
        # docs), and sparseness is the one axis whose findings (9 reds in
        # r6, 5 of them ANSI runtime errors) came from group-size collapse
        # alone.
        return subprocess.call(
            [
                py, "tools/fuzz_redraw.py", "--sf", sf,
                "--seeds", str(nseed + 1), "--sparse-permille", "10",
                "--json", f"REDRAW_r{rnd:02d}s.json",
            ],
            cwd=REPO,
        )

    def scaling3() -> int:
        # Three-point volume sweep 0.01 -> 0.1 -> 1.0 (r6 verdict item 3):
        # build (or reuse — marker-cached) the sf1.0-shaped world, then run
        # the probe with the second leg. ~6M-row lineitem, ~2 min build.
        world = "/tmp/world_sf1"
        rc = subprocess.call(
            [py, "tools/make_world_scale.py", "--out", world], cwd=REPO
        )
        if rc != 0:
            print("scaling: sf1 world build failed — running 2-point sweep")
            return subprocess.call(
                [py, "tools/probe_scaling.py", "--json",
                 f"SCALING_r{rnd:02d}.json"],
                cwd=REPO,
            )
        return subprocess.call(
            [
                py, "tools/probe_scaling.py", "--hi2", world,
                "--json", f"SCALING_r{rnd:02d}.json",
            ],
            cwd=REPO,
        )

    def composed() -> int:
        # Composed worlds (ties x sparse, null x sparse) at BENCH scale
        # (r6 verdict item 4): round 6's own lesson (SCALE.md, round-6
        # bench-scale note) is that boundary classes are per-trial and
        # sf0.1 runs 10x the trials — yet the two composed shapes that
        # found 11 divergences ran at sf0.001 only. Doses mirror the
        # catching worlds: ties 1000 (every event day-snapped, values on
        # the 10-lattice) x sparse 30 (3% kept), and null 300 x sparse 30
        # (all-NULL groups).
        cseed = round_composed_seed(rnd)
        if {cseed, cseed + 1} & used_redraw_seeds(exclude_round=rnd):
            print(
                f"composed: seed {cseed}/{cseed + 1} already appears in a "
                "committed REDRAW_*.json — fresh worlds only."
            )
            return 1
        rc = subprocess.call(
            [
                py, "tools/fuzz_redraw.py", "--sf", sf_hi,
                "--seeds", str(cseed), "--ties-permille", "1000",
                "--sparse-permille", "30",
                "--json", f"REDRAW_r{rnd:02d}c1.json",
            ],
            cwd=REPO,
        )
        if rc != 0:
            return rc
        return subprocess.call(
            [
                py, "tools/fuzz_redraw.py", "--sf", sf_hi,
                "--seeds", str(cseed + 1), "--null-permille", "300",
                "--sparse-permille", "30",
                "--json", f"REDRAW_r{rnd:02d}c2.json",
            ],
            cwd=REPO,
        )

    return {
        "window": check_window,
        "oracle": [py, "tools/check_oracle.py", sf],
        "stability": [
            py, "tools/check_stability.py", "--json", f"STABILITY_r{rnd:02d}.json",
        ],
        "dup": [py, "tools/probe_dup.py", "--json", f"PROBE_r{rnd:02d}.json"],
        # hot_frac 0.8 since r7: the 40% world was clean for two rounds and
        # the 80% world (SKEW_r07, 126 probed / 0 flagged) stresses the
        # salted-window and bucketed-join replication bounds near their
        # documented limits — the harsher world is now the standing gate.
        "skew": [
            py, "tools/probe_skew.py", "--hot-frac", "0.8",
            "--json", f"SKEW_r{rnd:02d}.json",
        ],
        "scaling": scaling3,
        "redraw": redraw,
        "nullworld": nullworld,
        "composed": composed,
        # --battery-all-heavy (r7 verdict item 4): one full heavy sweep
        # per request establishes every pinned class is closed at its
        # catching scale SIMULTANEOUSLY; the per-close default is the
        # oldest-first rotation, 3 heavy worlds per close (r8 verdict
        # item 5).
        "classbattery": [
            py, "tools/class_battery.py",
            *(
                ["--all-heavy"]
                if battery_all_heavy
                else ["--rotate", str(rnd)]
            ),
            "--json", f"CLASSBATTERY_r{rnd:02d}.json",
        ],
        "bench": [py, "bench.py"],
        "pytest": [py, "-m", "pytest", "tests/", "-q"],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--sf-hi", default="/root/testdata/sf0.1")
    ap.add_argument("--skip", nargs="*", default=[])
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument(
        "--battery-all-heavy", action="store_true",
        help="classbattery runs every heavy catcher world instead of the "
        "one-per-close rotation (r7 verdict item 4)",
    )
    args = ap.parse_args()

    cmds = stage_cmds(args.round, args.sf, args.sf_hi, args.battery_all_heavy)
    selected = [
        n
        for n in cmds
        if (args.only is None or n in args.only) and n not in args.skip
    ]
    unknown = (set(args.skip) | set(args.only or [])) - set(cmds)
    if unknown:
        print(f"unknown stage(s): {sorted(unknown)}; valid: {list(cmds)}")
        return 2

    results: list[tuple[str, str, float]] = []
    failed = False
    for name in selected:
        t0 = time.perf_counter()
        cmd = cmds[name]
        if callable(cmd):
            print(f"=== {name}: <built-in {name} stage>", flush=True)
            rc = cmd()
        else:
            print(f"=== {name}: {' '.join(cmd)}", flush=True)
            rc = subprocess.call(cmd, cwd=REPO)
        dt = time.perf_counter() - t0
        if name == "bench" and rc == 0:
            src = os.path.join(REPO, "bench_full_latest.json")
            dst = os.path.join(REPO, f"bench_r{args.round}_full.json")
            if os.path.exists(src):
                shutil.copy(src, dst)
                print(f"    copied bench_full_latest.json -> {os.path.basename(dst)}")
        status = "ok" if rc == 0 else f"FAIL rc={rc}"
        failed = failed or rc != 0
        results.append((name, status, dt))
        print(f"=== {name}: {status} in {dt:.0f}s", flush=True)

    print("\nround-close summary")
    for name, status, dt in results:
        print(f"  {name:<10} {status:<10} {dt:7.0f}s")
    if failed:
        print("ONE OR MORE STAGES FAILED — do not seal the round.")
    else:
        print(
            "all stages green — commit the refreshed STABILITY/PROBE/SKEW/"
            "SCALING/bench artifacts."
        )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
