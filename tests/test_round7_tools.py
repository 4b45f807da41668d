"""Round-7 tooling contracts: stale-cert detector, class battery, 3-point
scaling sweep, degraded-host bench warning.

These are cheap structural pins (no Spark session): the heavy paths run in
round_close; what pytest guards is that the manifests/constants the heavy
paths trust cannot drift silently.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


# ---------------------------------------------------------------------------
# class battery manifest
# ---------------------------------------------------------------------------

def _manifest():
    with open(os.path.join(REPO, "tools", "class_battery_manifest.json")) as f:
        return json.load(f)["worlds"]


def test_manifest_worlds_unique_and_well_formed():
    seen = set()
    valid_axes = {
        "null_permille", "degen_permille", "ties_permille",
        "unicode_permille", "extreme_permille", "sparse_permille",
    }
    for w in _manifest():
        assert os.path.isdir(w["sf"]), f"missing sf dir {w['sf']}"
        assert w["seeds"], "world without seeds"
        assert w.get("classes"), "every battery world must name the classes it guards"
        for k, v in w.get("axes", {}).items():
            assert k in valid_axes, f"unknown axis {k}"
            assert 1 <= v <= 1000, f"dose out of permille range: {k}={v}"
        for s in w["seeds"]:
            key = (w["sf"], s, tuple(sorted(w.get("axes", {}).items())))
            assert key not in seen, f"duplicate battery world {key}"
            seen.add(key)


def test_manifest_pins_every_documented_catcher_seed():
    """The SCALE.md class inventories name these seeds as the catching
    worlds; the battery must keep them pinned (not auto-merged — rounds <=6
    are excluded from auto-merge by design)."""
    pinned = {s for w in _manifest() for s in w["seeds"]}
    for seed in (3101, 4111, 4333, 4555, 4998, 5201, 5301, 2317, 5102, 606):
        assert seed in pinned, f"catcher seed {seed} missing from battery manifest"


def test_battery_heavy_rotation_and_automerge_bounds():
    from class_battery import load_manifest

    worlds = load_manifest(current_round=7)
    heavy = [w for w in worlds if w.get("heavy")]
    light = [w for w in worlds if not w.get("heavy")]
    assert len(heavy) >= 5
    # pre-r7 REDRAW artifacts must NOT be auto-merged (cost guard): every
    # non-manifest world would carry the auto-merged marker
    merged = [w for w in worlds if str(w.get("classes", "")).startswith("auto-merged")]
    assert merged == [], f"rounds <7 leaked into auto-merge: {merged}"
    # every light world must be sf0.001/sf0.01 (cost contract)
    for w in light:
        assert not w["sf"].rstrip("/").endswith("sf0.1")


def test_battery_round_parse_anchored_and_composed_automerge():
    """ADVICE r7 (medium): suffixed artifacts (REDRAW_r07c1.json) must parse
    as round 7, not 71 — otherwise composed catcher worlds never auto-merge.
    At current_round=8 both r7 composed worlds must be in the battery
    (7278 via the manifest hand-pin, 7277 via auto-merge)."""
    from class_battery import load_manifest

    worlds = load_manifest(current_round=8)
    seeds = {s for w in worlds for s in w["seeds"]}
    assert 7278 in seeds, "propensity-argmin catcher world (7278) missing"
    assert 7277 in seeds, "REDRAW_r07c1 composed world not auto-merged"
    # the hand-pin and the auto-merge must not double-register 7278
    assert sum(1 for w in worlds for s in w["seeds"] if s == 7278) == 1


# ---------------------------------------------------------------------------
# stale-cert detector
# ---------------------------------------------------------------------------

def test_certified_commit_mapping_matches_git():
    from stale_certs import certified_commits

    commits = certified_commits()
    # rounds 1..6 all have driver artifact commits in this repo's history
    assert set(commits) >= {1, 2, 3, 4, 5, 6}
    # the r6 certified tree is the parent of the r6 artifact commit
    subj = subprocess.run(
        ["git", "-C", REPO, "log", "-1", "--format=%s", commits[6]],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert "round 6" not in subj, (
        "certified commit must be the BUILDER's final tree, not the "
        "driver's artifact commit itself"
    )


def test_latest_green_round_reads_all_artifacts():
    from stale_certs import latest_green_round

    greens = latest_green_round()
    # spot pins: r6 window names certify at 6, r1 flagship at >=1
    assert greens.get("events_ohlc_bars") == 6
    assert greens.get("flagship_knn_cosine_topk", 0) >= 1


def test_classify_agrees_with_latest_green_round():
    """The one CORRECTNESS-row classifier, applied to the raw artifacts,
    yields exactly latest_green_round() (each name's newest green or
    rows-only round) and driver_history() (each name's newest outcome)."""
    import glob
    import re

    from stale_certs import GREEN, classify, driver_history, latest_green_round

    newest: dict[str, tuple[int, str]] = {}
    green: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name, rec in json.load(f).items():
                outcome = classify(rec)
                assert outcome in ("green", "rows_only", "red", "error")
                if rnd >= newest.get(name, (-1, ""))[0]:
                    newest[name] = (rnd, outcome)
                if outcome in GREEN:
                    green[name] = max(rnd, green.get(name, -1))
    assert newest and green
    assert driver_history() == newest
    assert latest_green_round() == green


def test_driver_priority_all_recerts_after_backlog_zero():
    """The r8 window contract: the never-certified backlog hit zero in r7,
    so every slot is a re-certification of an already-verified name (the
    stale-cert burn-down the r7 verdict ordered) — 50 unique names, all
    green (or rows-only) in the committed CORRECTNESS artifacts."""
    sys.path.insert(0, REPO)
    from cobalt_duckdb_spark.queries import _DRIVER_PRIORITY
    from stale_certs import latest_green_round

    verified = latest_green_round()
    assert len(_DRIVER_PRIORITY) == 50
    assert len(set(_DRIVER_PRIORITY)) == 50
    not_verified = [n for n in _DRIVER_PRIORITY if n not in verified]
    assert not_verified == [], (
        f"window slot holds a never-verified name {not_verified} — with "
        "backlog zero every slot must be a re-cert"
    )


# ---------------------------------------------------------------------------
# 3-point scaling sweep + composed stage plumbing
# ---------------------------------------------------------------------------

def test_round_close_has_new_stages():
    import round_close

    cmds = round_close.stage_cmds(7, "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    for stage in ("scaling", "composed", "classbattery"):
        assert stage in cmds, f"round_close missing stage {stage}"
    # composed seeds are distinct from redraw and nullworld seed families
    assert round_close.round_composed_seed(7) == 7277
    assert round_close.round_seeds(7) == [7007, 7077]
    assert round_close.round_null_seed(7) == 7177


def test_round_close_reclose_is_idempotent_on_own_seeds():
    """ADVICE r7 (low): re-running round_close for round N after its own
    REDRAW_r{N}* artifacts are committed must not trip the seed-freshness
    gate on its OWN seeds — only other rounds' seeds count as reused."""
    import round_close

    # r7's artifacts (REDRAW_r07.json etc.) are committed; excluding round 7
    # must drop exactly its seeds while keeping every other round's.
    all_used = round_close.used_redraw_seeds()
    sans_r7 = round_close.used_redraw_seeds(exclude_round=7)
    dropped = all_used - sans_r7
    assert {7007, 7077, 7177, 7277, 7278} <= dropped
    assert all(7000 <= s < 8000 for s in dropped), dropped
    # and the composed-stage guard for round 7 specifically would not fire
    cseed = round_close.round_composed_seed(7)
    assert not ({cseed, cseed + 1} & sans_r7)


def test_probe_scaling_accepts_third_point():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "probe_scaling.py"), "--help"],
        capture_output=True, text=True,
    )
    assert "--hi2" in out.stdout


@pytest.mark.parametrize("seed_field", ["calib_sec"])
def test_bench_committed_records_carry_anchor(seed_field):
    """The degraded-host detector reads the newest committed full record's
    calib anchor; every committed record must carry one. Numeric round sort,
    matching bench.py (lexicographic would stick at r9 once r10 exists)."""
    import glob
    import re

    files = sorted(
        glob.glob(os.path.join(REPO, "bench_r*_full.json")),
        key=lambda p: int(re.search(r"bench_r(\d+)_", os.path.basename(p)).group(1)),
    )
    assert files, "no committed full bench records"
    with open(files[-1]) as f:
        assert seed_field in json.load(f)


def test_bench_anchor_sort_is_numeric():
    """bench.py's degraded-host detector must pick bench_r10 over bench_r9
    (ADVICE r7): assert the numeric key orders a synthetic name list
    correctly AND that bench.py actually uses a numeric extraction."""
    names = ["bench_r10_full.json", "bench_r9_full.json", "bench_r2_full.json"]
    import re

    ordered = sorted(
        names, key=lambda p: int(re.search(r"bench_r(\d+)_", p).group(1))
    )
    assert ordered[-1] == "bench_r10_full.json"
    with open(os.path.join(REPO, "bench.py")) as f:
        src = f.read()
    assert r"bench_r(\d+)_" in src, "bench.py anchor sort is not numeric"


# ---------------------------------------------------------------------------
# helper-closure staleness (r7 verdict item 2)
# ---------------------------------------------------------------------------

def test_closure_hash_tracks_shared_helper_drift(tmp_path):
    """A helper-only edit must flip the closure digest of its callers while
    the query body stays identical — the exact gap the r7 propensity bug
    exposed. Uses real importable modules so inspect.getsource works."""
    import importlib.util
    import textwrap

    from closure_hash import closure_members, closure_sha

    def load(body: str, tag: str):
        p = tmp_path / f"fakehelpers_{tag}.py"
        p.write_text(textwrap.dedent(body))
        spec = importlib.util.spec_from_file_location(f"fakehelpers_{tag}", p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        # force pkg membership so the walker hashes these symbols
        mod._shared.__module__ = "cobalt_duckdb_spark.operators.fake"
        mod.query.__module__ = "cobalt_duckdb_spark.queries.fake"
        return mod

    body_v1 = """
        def _shared(x):
            return x + 1

        def query(spark, sf):
            return _shared(2)
    """
    body_v2 = """
        def _shared(x):
            return x + 2

        def query(spark, sf):
            return _shared(2)
    """
    m1, m2 = load(body_v1, "v1"), load(body_v2, "v2")
    members = closure_members(m1.query)
    assert any("_shared" in k for k in members), members
    assert closure_sha(m1.query) != closure_sha(m2.query), (
        "helper edit did not change the closure digest"
    )


def test_closure_hash_covers_module_alias_and_transitive_refs():
    """Real-registry pins: a query that reaches helpers through a module
    alias (operators.dedup as D) must include those symbols, and io.py's
    loader must appear in (nearly) every closure."""
    sys.path.insert(0, REPO)
    from closure_hash import closure_members
    from cobalt_duckdb_spark.queries import queries

    q = queries()
    km = closure_members(q["events_survival_km"])
    assert "cobalt_duckdb_spark.io.load_table" in km
    assert "cobalt_duckdb_spark.io._events_ts_unit" in km, (
        "transitive helper (load_table -> _events_ts_unit) missing"
    )
    dd = closure_members(q["dedup_minhash_lsh_pairs"])
    assert any(".operators.dedup." in k for k in dd), (
        f"module-alias helpers not expanded: {sorted(dd)[:8]}"
    )


def test_stale_certs_head_dump_carries_helpers_sha():
    from stale_certs import _dump_head

    head = _dump_head()
    assert head, "empty head dump"
    missing = [n for n, rec in head.items() if not rec.get("helpers_sha")]
    assert not missing, f"queries without a helpers digest: {missing[:10]}"


# ---------------------------------------------------------------------------
# r9 additions: const-key qualification, heavy rotation ledger, only-seed
# ---------------------------------------------------------------------------

def test_closure_hash_qualifies_const_keys_by_module():
    """ADVICE r8 (low): two helpers in different modules referencing
    same-named module-level constants must NOT collide on one
    'const:<ident>' key — drift in the later-visited one would be
    invisible (false-fresh). Every const key must be module-qualified."""
    sys.path.insert(0, REPO)
    from closure_hash import closure_members
    from cobalt_duckdb_spark.queries import queries

    q = queries()
    for name in ("text_textrank_keywords", "dedup_minhash_lsh_pairs"):
        members = closure_members(q[name])
        bare = [
            k for k in members
            if k.startswith("const:") and "." not in k[len("const:"):]
        ]
        assert bare == [], f"{name}: unqualified const keys {bare}"


def test_battery_heavy_rotation_oldest_first_ledger():
    """r8 verdict item 5: the per-close heavy plan is the K worlds with the
    OLDEST last-green battery round (ledger from committed CLASSBATTERY
    artifacts); the r8 all-heavy sweep stamped its 9 worlds at round 8, so
    any heavy world the ledger has never seen must outrank all of them."""
    from class_battery import _world_key, heavy_last_run, load_manifest

    ledger = heavy_last_run()
    assert ledger, "no committed CLASSBATTERY artifacts parsed"
    assert max(ledger.values()) >= 8, "r8 all-heavy sweep not in the ledger"

    worlds = load_manifest(current_round=9)
    heavy = [w for w in worlds if w.get("heavy")]
    ranked = sorted(
        range(len(heavy)),
        key=lambda i: (
            ledger.get(_world_key(heavy[i]), heavy[i].get("last_run_round", 0)),
            i,
        ),
    )
    plan = [heavy[i] for i in ranked[:3]]
    never_run = [
        w for w in heavy
        if ledger.get(_world_key(w), w.get("last_run_round", 0)) == 0
    ]
    for w in never_run[:3]:
        assert w in plan, (
            f"never-battery-run heavy world {w['seeds']} not scheduled "
            "before already-stamped worlds"
        )


def test_battery_only_seed_no_match_errors():
    """ADVICE r8 (low): a mistyped --only-seed must exit nonzero and write
    NO JSON — a 0/0 run must not masquerade as a green gate artifact."""
    out_json = os.path.join(REPO, ".pytest_only_seed_probe.json")
    if os.path.exists(out_json):
        os.remove(out_json)
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "tools", "class_battery.py"),
            "--only-seed", "987654321", "--json", out_json,
        ],
        capture_output=True, text=True,
    )
    assert proc.returncode != 0
    assert not os.path.exists(out_json)
    assert "matches no world" in proc.stderr


def test_bench_record_smoke_carries_calib_triplet():
    """r8 verdict item 4: every full bench record from r9 on carries the
    start/mid/end calib legs and the spread; bench_compare prints them.
    Structural pin only — the numeric run happens in round_close."""
    with open(os.path.join(REPO, "bench.py")) as f:
        src = f.read()
    for field in (
        "calib_start_sec", "calib_mid_sec", "calib_end_sec",
        "calib_spread", "calib_spread_warning",
    ):
        assert field in src, f"bench.py lost the {field} field"
    with open(os.path.join(REPO, "tools", "bench_compare.py")) as f:
        cmp_src = f.read()
    assert "calib_start_sec" in cmp_src and "calib_spread" in cmp_src


def test_tools_resolve_their_own_checkout():
    """Tools import and write relative to the checkout they live in, so an
    A/B run from a copy of the repo never imports the original's package."""
    files = [os.path.join(REPO, "bench.py")] + [
        os.path.join(REPO, "tools", f)
        for f in sorted(os.listdir(os.path.join(REPO, "tools")))
        if f.endswith(".py")
    ]
    hits = [f for f in files if REPO in open(f).read()]
    assert hits == [], f"checkout path hard-coded in {hits}"
