"""Driver-window rotation audit (round-3 verdict item 8).

With 300+ registry entries and a 50-slot driver gate per round, the window
choice is the scarcest external-verification resource. This tool keeps the
rotation honest mechanically instead of by builder diligence:

- Reads every committed CORRECTNESS_r*.json in the repo root (the driver's
  per-round gate records, classified by ``stale_certs.classify``) and takes
  each name's LATEST driver outcome: green / rows_only / red / error /
  never-checked. The artifacts are the only certification state: a new
  round counts as soon as its artifact is committed.
- Loads the registry (post-rotation) and prints the ACTUAL next window
  (first 50 entries) annotated with that history, plus a policy check:
  * every latest-red name must be inside the window (retries first),
  * no already-green name may occupy a slot while never-checked names wait,
  * the flagship must be driver-green or inside the window (it is NOT
    pinned to slot 0: entry() smoke-checks it every round regardless, so
    once green it yields its slot to a fresh certification).

Exit 1 if the policy is violated — run by pytest (test_registry_contract)
so a registry edit that wastes driver slots is a failed test.

Rotation policy once the never-checked backlog is zero (r7 verdict item 5,
promised at COVERAGE.md's freeze decision): window slots go to, in order,
(1) retries of latest-red names, (2) stale certifications whose own
src/oracle surface changed (riskiest class — round 7's live bug was one),
oldest certifying round first, (3) helpers-only-stale names oldest-first,
(4) spare slots re-certify the OLDEST still-fresh greens so no
certification ages unboundedly. ``--suggest`` prints a paste-ready
``_DRIVER_PRIORITY`` tuple computed under that policy (the one hand-kept
ordering decision in ``queries/__init__.py``); the summary reports
``oldest_cert_round`` so aging is visible per-round.

Usage: python tools/next_window.py [--json] [--suggest]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50
FLAGSHIP = "flagship_knn_cosine_topk"

# Names whose driver record is a weaker rows-only check BY DESIGN (no
# oracle twin): one green rows-only pass is terminal signal — re-windowing
# them burns a slot without new information.
ROWS_ONLY_TERMINAL = frozenset(
    {"agg_approx_sketches", "infer_embed_index_search_e2e", "infer_tokenize_stats"}
)


def main() -> int:
    sys.path.insert(0, REPO)
    from cobalt_duckdb_spark.queries import queries
    from stale_certs import GREEN, compute_stale, driver_history

    hist = driver_history()
    names = list(queries())
    window = names[:WINDOW]

    problems: list[str] = []
    warnings: list[str] = []
    flagship_green = FLAGSHIP in {
        n for n, (_, o) in hist.items() if o == "green"
    }
    if not flagship_green and FLAGSHIP not in window:
        problems.append(
            "flagship is not driver-green and not in the window — it must "
            "re-enter until certified"
        )

    latest_red = {
        n
        for n, (_, o) in hist.items()
        if o in ("red", "error") and n in names and n not in ROWS_ONLY_TERMINAL
    }
    missing_retries = latest_red - set(window)
    if missing_retries:
        problems.append(f"latest-red names outside window: {sorted(missing_retries)}")

    never = [n for n in names if n not in hist]
    green = {n for n, (_, o) in hist.items() if o in GREEN}
    # Modified-since-certification detection (r6 verdict item 2): a green
    # name whose function source or oracle SQL changed AFTER its certifying
    # round's tree is STALE — re-windowing it is a legitimate re-cert, not a
    # wasted slot. Guarded: the git-worktree machinery needs a full clone.
    try:
        stale_map = compute_stale()
    except Exception as exc:  # pragma: no cover - degraded env
        stale_map = {}
        warnings.append(f"stale-cert detection unavailable ({exc!r})")
    wasted = [
        n
        for n in window
        if (n in green or n in ROWS_ONLY_TERMINAL) and n not in stale_map
    ]
    if wasted and never and len(set(window) & set(never)) < min(
        WINDOW - len(latest_red), len(never)
    ):
        problems.append(
            f"window re-checks already-green {wasted[:5]}... while "
            f"{len(never)} names were never driver-checked"
        )
    # Aging warning (r7 verdict item 5): a spare slot spent on a green,
    # non-stale name should go to the OLDEST certification. Warning, not
    # failure — membership is the hard policy, ordering is guidance.
    if wasted:
        oldest_outside = min(
            (r for n, (r, o) in hist.items()
             if o in GREEN and n in names
             and n not in stale_map and n not in ROWS_ONLY_TERMINAL
             and n not in window),
            default=None,
        )
        newest_inside = max((hist[n][0] for n in wasted if n in hist), default=0)
        if oldest_outside is not None and newest_inside > oldest_outside:
            warnings.append(
                "spare re-cert slots are not oldest-first: window holds "
                f"a r{newest_inside} green while a r{oldest_outside} green "
                "waits outside"
            )

    # Oldest-first re-cert policy (r7 verdict item 5): with the
    # never-checked backlog at zero, spare slots re-certify the OLDEST
    # greens so no certification ages unboundedly. Suggested window:
    # retries, then src/oracle-stale oldest-first (the riskiest class),
    # then helpers-only-stale oldest-first, then oldest greens.
    green_round: dict[str, int] = {
        n: r for n, (r, o) in hist.items()
        if o in GREEN and n in names
    }
    retry_slots = sorted(latest_red)
    stale_src = sorted(
        (n for n, rec in stale_map.items()
         if n in names and rec["why"] != "helpers"),
        key=lambda n: (stale_map[n]["round"], n),
    )
    stale_helpers = sorted(
        (n for n, rec in stale_map.items()
         if n in names and rec["why"] == "helpers"),
        key=lambda n: (stale_map[n]["round"], n),
    )
    taken = {*retry_slots, *stale_src, *stale_helpers}
    oldest_greens = sorted(
        (n for n in green_round
         if n not in taken and n not in ROWS_ONLY_TERMINAL),
        key=lambda n: (green_round[n], n),
    )
    # dict.fromkeys dedups while preserving order: a name that is BOTH
    # latest-red and stale (green at round r, red in a later retry) would
    # otherwise appear in two tiers and burn a second window slot — the
    # 50-unique registry test catches it only after the window is pasted
    # (ADVICE r8). Retries win (earliest tier keeps the slot).
    suggested = list(dict.fromkeys([
        *retry_slots, *[n for n in names if n not in hist],
        *stale_src, *stale_helpers, *oldest_greens,
    ]))[:WINDOW]
    oldest_cert_round = min(green_round.values()) if green_round else None

    report = {
        "window": [
            {
                "slot": i,
                "name": n,
                "status": (
                    "stale-recert"
                    if n in stale_map and n in hist and hist[n][1] == "green"
                    else {
                        "red": "retry",
                        "error": "retry",
                        "green": "RE-CHECK (wasted slot?)",
                        "rows_only": "rows-only (terminal)",
                    }.get(hist[n][1], "?")
                    if n in hist
                    else "fresh"
                ),
            }
            for i, n in enumerate(window)
        ],
        "summary": {
            "registered": len(names),
            "driver_green": len(green),
            "latest_red": sorted(latest_red),
            "never_checked": len(never),
            "fresh_in_window": sum(1 for n in window if n not in hist),
            "remaining_after_this_window": max(
                0, len(never) - sum(1 for n in window if n not in hist)
            ),
            "stale_certs": len(stale_map),
            "stale_src_oracle": len(stale_src),
            "stale_helpers_only": len(stale_helpers),
            "stale_in_window": sum(1 for n in window if n in stale_map),
            "oldest_cert_round": oldest_cert_round,
        },
        "suggested_window": suggested,
        "problems": problems,
        "warnings": warnings,
    }
    if "--suggest" in sys.argv:
        print("_DRIVER_PRIORITY = (")
        for n in suggested:
            tag = (
                "retry" if n in latest_red
                else stale_map[n]["why"] + f" (r{stale_map[n]['round']})"
                if n in stale_map
                else "fresh" if n not in hist
                else f"oldest green (r{green_round.get(n)})"
            )
            print(f'    "{n}",  # {tag}')
        print(")")
        return 0
    if "--json" in sys.argv:
        print(json.dumps(report, indent=2))
    else:
        for row in report["window"]:
            print(f"{row['slot']:3d}  {row['status']:<24} {row['name']}")
        print()
        print(json.dumps(report["summary"], indent=2))
        for w in warnings:
            print(f"WARNING: {w}")
        for p in problems:
            print(f"PROBLEM: {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
