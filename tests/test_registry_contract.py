"""Structural contracts every registered query must satisfy.

The driver's correctness gate canonicalizes results with pandas
``sort_values`` over all columns and hashes the sorted rows. That makes two
things hard requirements, both of which have bitten before (r1:
``agg_collect_sorted_list``; r2: ``udaf_label_centroids``):

1. No registered query may return a top-level ArrayType / MapType /
   StructType column — pandas cannot sort list cells
   (``TypeError: unhashable type: 'list'``) and the driver extracts ZERO
   signal, not even a row count. Serialize complex values to strings
   (``scalar_array_serialization`` / ``udaf_label_centroids`` patterns).
2. No oracle may contain a ``--`` line comment — oracle SQL is flattened to
   one line before the driver runs it, so ``--`` swallows the rest of the
   statement (r2: ``text_pii_redaction``). ``register()`` raises on this;
   the test pins the guard.

Schema construction is lazy (no job runs for most queries), so this test
covers the whole registry cheaply at sf0.001.
"""

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from cobalt_duckdb_spark.queries import ORACLE, QUERIES, register
from tests.conftest import SF_DIR

_COMPLEX = (ArrayType, MapType, StructType)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_complex_top_level_columns(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    bad = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)
    ]
    assert not bad, (
        f"{name} returns complex top-level column(s) {bad} — the driver "
        "canonicalizer cannot hash these; serialize to string "
        "(see scalar_array_serialization)"
    )


def test_no_line_comments_in_registered_oracles():
    offenders = {n for n, sql in ORACLE.items() if "--" in sql}
    assert not offenders


def test_register_rejects_line_comment_oracle():
    with pytest.raises(ValueError, match="line comment"):
        register("_doomed", oracle="SELECT 1 -- boom\nFROM documents")
    assert "_doomed" not in QUERIES  # validation precedes registration


def test_every_query_has_oracle_or_documented_exemption():
    # The genuinely non-SQL-expressible set. Anything else registered
    # without an oracle burns a driver slot as err=no_oracle — add an oracle
    # or an explicit entry here with justification.
    rows_only_by_design = {
        "agg_approx_sketches",  # engine-specific sketch outputs
        "infer_embed_index_search_e2e",  # model in the loop
        "infer_tokenize_stats",  # model in the loop
    }
    missing = set(QUERIES) - set(ORACLE) - rows_only_by_design
    assert not missing, f"queries without oracle or exemption: {missing}"


def test_driver_window_rotation_policy():
    """tools/next_window.py's policy gate: a not-yet-green flagship must be
    in the window (once green, entry()'s per-round smoke covers it and its
    slot goes to a fresh name), every latest-red name retried inside the
    50-slot window, and no already-green name occupying a slot while
    never-checked names wait (round-3 verdict item 8 — window slots are the
    scarcest external-verification resource)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "next_window.py"), "--json"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_registry_order_is_window_then_registration_order():
    """The driver checks the first 50 entries: they are exactly the
    hand-picked _DRIVER_PRIORITY window, and every other name follows in
    registration order. ORACLE is never reordered, so its keys carry the
    registration order of every query with an oracle."""
    from cobalt_duckdb_spark.queries import _DRIVER_PRIORITY

    names = list(QUERIES)
    assert names[:50] == list(_DRIVER_PRIORITY)
    rest = [n for n in names[50:] if n in ORACLE]
    assert rest == [n for n in ORACLE if n not in _DRIVER_PRIORITY]


def test_round_close_seed_hygiene():
    """tools/round_close.py's redraw stage (r5 verdict item 5b) must pick
    never-used seeds: round-derived (deterministic, no builder diligence),
    disjoint from every seed any committed REDRAW_*.json already burned —
    a re-used seed re-tests a world the code was already fixed against."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        from round_close import (
            round_null_seed,
            round_seeds,
            used_redraw_seeds,
        )
    finally:
        sys.path.pop(0)

    used = used_redraw_seeds()
    for rnd in range(6, 21):  # every remaining driver round
        # null_seed+1 is the round's sparse world (round_close nullworld
        # stage runs both)
        seeds = round_seeds(rnd) + [round_null_seed(rnd), round_null_seed(rnd) + 1]
        assert len(set(seeds)) == len(seeds)
        clash = set(seeds) & used
        # the round's own committed reports legitimately contain its seeds
        import json as _json

        for own in (
            os.path.join(repo, f"REDRAW_r{rnd:02d}.json"),
            os.path.join(repo, f"REDRAW_r{rnd:02d}n.json"),
            os.path.join(repo, f"REDRAW_r{rnd:02d}s.json"),
        ):
            if os.path.exists(own):
                with open(own) as f:
                    clash -= set(_json.load(f).get("seeds", []))
        assert not clash, (
            f"round {rnd} close-out seeds {sorted(clash)} already used in a "
            "committed REDRAW_*.json"
        )


def test_public_counts_match_registry():
    """README.md's registry counts are the repo's public claims; they
    drifted twice in round 4 (r4 verdict item 4). Tie the literal numbers
    in the prose to the live registry so drift is a test failure."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "README.md")) as f:
        readme = f.read()
    m = re.search(
        r"(\d+) named queries ship in the registry,\s*(\d+) of them "
        r"oracle-matched",
        readme,
    )
    assert m, "README.md no longer contains the registry-count sentence"
    assert int(m.group(1)) == len(QUERIES), (
        f"README claims {m.group(1)} registered queries; registry has "
        f"{len(QUERIES)} — update README.md"
    )
    assert int(m.group(2)) == len(ORACLE), (
        f"README claims {m.group(2)} oracle-matched queries; registry has "
        f"{len(ORACLE)} oracles — update README.md"
    )


def test_stability_report_current():
    """The newest committed STABILITY_r*.json must cover every registered
    query and flag none. tools/check_stability.py re-runs each query under
    a perturbed physical configuration (7 shuffle partitions, 1m scan
    splits, AQE off) and requires identical canonicalized results — the
    mechanical check behind SCALE.md's "bit-stable under partition-count
    changes" claim. Registering a query without re-running the harness is
    a test failure (same trip-wire philosophy as the probe/window)."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reports = sorted(
        glob.glob(os.path.join(repo, "STABILITY_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    assert reports, (
        "no stability report committed — run "
        "python tools/check_stability.py --json STABILITY_rN.json"
    )
    with open(reports[-1]) as f:
        rep = json.load(f)
    assert not rep["flagged"], (
        f"partition-unstable queries in {os.path.basename(reports[-1])}: "
        f"{rep['flagged']}"
    )
    missing = set(QUERIES) - set(rep["queries"])
    assert not missing, (
        f"registered queries absent from the stability report: {missing} — "
        "re-run tools/check_stability.py"
    )


def test_scaling_report_current():
    """The newest committed SCALING_r*.json must cover every registered
    query and flag none. tools/probe_scaling.py times each query at two
    committed scale factors (sf0.01 -> sf0.1, a 10x data step) and flags
    super-linear time-vs-data slopes after normalizing for legitimate
    output growth — the volume axis complementing probe_dup (duplication)
    and probe_skew (hot keys). Registering a query without re-running the
    sweep is a test failure (same trip-wire as the stability report)."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reports = sorted(
        glob.glob(os.path.join(repo, "SCALING_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    assert reports, (
        "no scaling report committed — run "
        "python tools/probe_scaling.py --json SCALING_rN.json"
    )
    with open(reports[-1]) as f:
        rep = json.load(f)
    assert not rep["flagged"], (
        f"super-linear queries in {os.path.basename(reports[-1])}: "
        f"{rep['flagged']}"
    )
    missing = set(QUERIES) - set(rep["queries"]) - set(rep.get("excluded", {}))
    assert not missing, (
        f"registered queries absent from the scaling report: {missing} — "
        "re-run tools/probe_scaling.py"
    )


def test_skew_report_current():
    """The newest committed SKEW_r*.json must cover every registry entry in
    the key-shuffle-sensitive families (probe_skew's DEFAULT_PATTERNS minus
    documented exclusions) and carry zero plan-shaped flags. The probe
    reassigns 40% of events to one user and times BASE vs SKEW; output
    growth is normalized away (per_row_ratio), so a flag means a genuinely
    skew-quadratic plan — the class the r5 as-of frame rewrite removed."""
    import fnmatch
    import glob
    import json
    import os
    import re
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from tools.probe_skew import DEFAULT_EXCLUDE, DEFAULT_PATTERNS

    reports = sorted(
        glob.glob(os.path.join(repo, "SKEW_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    assert reports, (
        "no skew report committed — run python tools/probe_skew.py --json SKEW_rN.json"
    )
    with open(reports[-1]) as f:
        rep = json.load(f)
    assert not rep["flagged"], (
        f"plan-shaped skew flags in {os.path.basename(reports[-1])}: {rep['flagged']}"
    )
    selected = {
        n
        for n in QUERIES
        if any(fnmatch.fnmatch(n, p) for p in DEFAULT_PATTERNS)
    }
    missing = selected - set(rep["queries"]) - set(DEFAULT_EXCLUDE)
    assert not missing, (
        f"skew-sensitive registry entries absent from the skew report: {missing} — "
        "re-run tools/probe_skew.py"
    )
    stale = set(DEFAULT_EXCLUDE) - set(QUERIES)
    assert not stale, f"skew exclusions for unregistered names: {stale}"


def test_probe_family_coverage():
    """Every pair-emitting-family registry entry is either selected by the
    duplication probe's default patterns or carries a documented exclusion
    (r4 verdict item 6): a new dedup_*/simsearch_*/graph_*/multimodal_*
    query cannot silently skip the per-round probe report."""
    import fnmatch
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from tools.probe_dup import DEFAULT_EXCLUDE, DEFAULT_PATTERNS

    families = ("dedup_*", "simsearch_*", "graph_*", "multimodal_*", "embedding_*")
    must_cover = {
        n
        for n in QUERIES
        if any(fnmatch.fnmatch(n, f) for f in families)
    }
    covered = {
        n
        for n in must_cover
        if any(fnmatch.fnmatch(n, p) for p in DEFAULT_PATTERNS)
    }
    missing = must_cover - covered - set(DEFAULT_EXCLUDE)
    assert not missing, (
        f"registry entries neither probed nor excluded-with-reason: {missing}"
    )
    stale = set(DEFAULT_EXCLUDE) - set(QUERIES)
    assert not stale, f"probe exclusions for unregistered names: {stale}"
