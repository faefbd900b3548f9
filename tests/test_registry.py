"""Registry invariants for the driver contract (__spark_entry__).

The round driver oracles only the first ``WINDOW`` queries() entries, and
its compare hashes values after sorting columns by name — so the registry
must have unique names, every oracle key must map to a query, and the
window boundary must be stable.  No SparkSession needed here.
"""

import ast
import re

import __spark_entry__ as entry_mod


def test_registry_has_no_duplicate_names():
    names = [n for n, _ in entry_mod._QUERY_REGISTRY]
    dup = sorted({n for n in names if names.count(n) > 1})
    assert not dup, f"duplicate registry names: {dup}"


def test_queries_matches_registry_order_and_size():
    qs = entry_mod.queries()
    names = [n for n, _ in entry_mod._QUERY_REGISTRY]
    assert list(qs) == names
    assert len(qs) >= entry_mod.WINDOW == 50


def test_never_verified_gates_sit_inside_the_window():
    """Rotation rule 2 (new gates first) made checkable: any gate with
    no row in ANY CORRECTNESS_r*.json must occupy a position < WINDOW,
    else the driver will never verify it this round (the round-7 review
    caught knn_lsh/knn_lsh_multiprobe silently overflowing to 51/52)."""
    import glob
    import json
    import os

    seen = set()
    repo = os.path.dirname(entry_mod.__file__)
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(path) as f:
            seen.update(json.load(f))
    names = list(entry_mod.queries())
    overflow = [n for i, n in enumerate(names)
                if n not in seen and i >= entry_mod.WINDOW]
    assert not overflow, (
        f"never-driver-verified gates beyond position "
        f"{entry_mod.WINDOW}: {overflow}")


def test_changed_this_round_names_exist():
    """Rule-1 hand-list typo guard: every _CHANGED_THIS_ROUND name must
    be a declared gate, else the rotation silently skips it."""
    names = {n for n, _ in entry_mod._QUERY_DECLARATIONS}
    unknown = [n for n in entry_mod._CHANGED_THIS_ROUND if n not in names]
    assert not unknown, f"_CHANGED_THIS_ROUND typos: {unknown}"


def test_rotation_is_stalest_first():
    """Mechanized rotation (round 8; covered-sub demotion round 12):
    changed gates lead, never-verified gates precede all history-backed
    gates, and history-backed gates appear in non-decreasing last-green
    order — EXCEPT green sub-gates whose covering composite is itself in
    the window, which are treated as current (the composite's green row
    will refresh them via _COVERS, so their slot goes to a gate nothing
    vouches for).  Demotion must never apply to red or never-verified
    gates."""
    hist = entry_mod._verification_history()
    direct = entry_mod._verification_history(fold=False)
    names = [n for n, _ in entry_mod._QUERY_REGISTRY]
    k = len(entry_mod._CHANGED_THIS_ROUND)
    assert set(names[:k]) == set(entry_mod._CHANGED_THIS_ROUND)
    cur = max(max(g or 0, r or 0) for g, r in hist.values())
    # the impl computes demotion from the PROVISIONAL window (first
    # sort pass); use its exposed set rather than re-deriving from the
    # final order, which can differ when a composite is itself demoted
    demotable = entry_mod._ROTATION_DEMOTED
    tiers = []
    for n in names[k:]:
        h = hist.get(n)
        dg = (direct.get(n) or (None, None))[0]
        if h is None:
            tiers.append((1, 0))
        elif h[1] is not None and (h[0] is None or h[1] > h[0]):
            tiers.append((2, h[1]))      # red: demotion must NOT apply
        elif dg is not None and cur - dg >= entry_mod._MAX_DIRECT_AGE:
            tiers.append((3, dg))        # backstop: direct age rules
        elif n in demotable:
            tiers.append((3, cur))
        else:
            tiers.append((3, h[0]))
    assert tiers == sorted(tiers), "registry not stalest-first"


def test_rotation_max_direct_age_backstop():
    """Round-13 verdict task 5: a green gate whose latest DIRECT row is
    >= _MAX_DIRECT_AGE rounds old must sort by its direct age — exempt
    from both _COVERS freshness folding and in-window-composite
    demotion — so it reclaims a window slot for a hard re-verification.

    Asserted over WHICHEVER gates are aged at HEAD (the r14 judge
    caught the previous version pinning live artifact state — "the
    r8/r9 dedup cohort is aged" — which the backstop's own success
    invalidated the moment the driver refreshed those rows).  When the
    live aged set is empty, a synthesized ledger exercises the same
    property below instead of skipping."""
    hist = entry_mod._verification_history()
    direct = entry_mod._verification_history(fold=False)
    names = [n for n, _ in entry_mod._QUERY_REGISTRY]
    window = names[:entry_mod.WINDOW]
    cur = max(max(g or 0, r or 0) for g, r in hist.values())

    aged = []
    for n in names:
        h, dgr = hist.get(n), direct.get(n)
        if h is None or dgr is None or dgr[0] is None:
            continue
        green, red = h
        if red is not None and (green is None or red > green):
            continue                      # regressed: rule 3 owns it
        if cur - dgr[0] >= entry_mod._MAX_DIRECT_AGE:
            aged.append(n)
    # every aged-direct green gate is IN the window (the whole point)
    missing = [n for n in aged if n not in window]
    assert not missing, (
        f"backstop gates left outside the window: {missing}")
    # gates with NO direct row ever (rule-2 territory) are untouched by
    # the backstop: _verification_history(fold=False) simply has no
    # entry, and rule 2 already gives them a first-row slot
    assert all((direct.get(n) or (None, None))[0] is not None
               for n in aged)


def test_rotation_max_direct_age_backstop_synthetic(monkeypatch):
    """Non-vacuity companion to the live backstop test: a SYNTHESIZED
    ledger proves the backstop sort behavior independent of what the
    driver happened to refresh last round (so the property stays
    exercised even when — because the backstop worked — no live gate is
    currently aged).  One gate ('old') has a fresh FOLDED green via a
    covering in-window composite but a direct green exactly
    _MAX_DIRECT_AGE rounds old; it must outrank every fresher green
    gate and land in the window despite the composite's coverage."""
    cur = 20
    aged_round = cur - entry_mod._MAX_DIRECT_AGE
    n_fresh = entry_mod.WINDOW + 10      # enough to overflow the window
    fresh = [f"fresh{i:03d}" for i in range(n_fresh)]
    folded = {n: (cur, None) for n in fresh}
    folded["old"] = (cur, None)          # coverage-folded: looks fresh
    folded["comp"] = (cur, None)
    unfolded = dict(folded)
    unfolded["old"] = (aged_round, None)  # direct row is aged

    def fake_history(fold=True):
        return dict(folded if fold else unfolded)

    monkeypatch.setattr(entry_mod, "_verification_history", fake_history)
    monkeypatch.setattr(entry_mod, "_CHANGED_THIS_ROUND", [])
    monkeypatch.setattr(entry_mod, "_COVERS", {"comp": ["old"]})
    decls = [(n, None) for n in ["old", "comp"] + fresh]
    ordered = [n for n, _ in entry_mod._rotation_sorted(decls)]
    assert ordered[0] == "old", (
        "aged-direct gate must sort first (direct age beats folded "
        f"freshness and _COVERS demotion); got {ordered[:3]}")
    assert "old" in ordered[:entry_mod.WINDOW]


def test_oracle_keys_are_query_keys():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs), sorted(set(oracles) - set(qs))
    # Every gate is currently value-checkable (the README states this);
    # a future rows-only gate must update this pin AND the README.
    assert set(qs) == set(oracles), sorted(set(qs) - set(oracles))


def test_every_callable_is_distinct_per_name():
    """A name must map to exactly one function object (no aliased gates
    accidentally pointing two names at the same query)."""
    qs = entry_mod.queries()
    by_fn = {}
    for name, fn in qs.items():
        by_fn.setdefault(fn, []).append(name)
    shared = {fn.__name__: names for fn, names in by_fn.items()
              if len(names) > 1}
    assert not shared, f"multiple gate names share one function: {shared}"


def test_source_dict_literals_have_no_duplicate_keys():
    """AST-level guard: no dict literal in __spark_entry__.py silently
    shadows a key (the failure mode the round-6 judge flagged)."""
    src = open(entry_mod.__file__).read()
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            keys = [k.value for k in node.keys
                    if isinstance(k, ast.Constant) and isinstance(k.value, str)]
            dup = sorted({k for k in keys if keys.count(k) > 1})
            assert not dup, (
                f"dict literal at line {node.lineno} has duplicate keys: {dup}")


def test_oracle_sql_has_no_shadowed_assignments():
    """oracle_sql() builds a literal dict then extends it with
    ``sqls["name"] = ...`` assignments; an assignment that re-uses a
    literal key (or another assignment's key, except the documented
    alias) would silently replace the earlier SQL."""
    src = open(entry_mod.__file__).read()
    body = src.split("def oracle_sql()", 1)[1]
    lit = re.findall(r'^\s+"([a-z0-9_]+)": ', body, re.M)
    assigns = re.findall(r'sqls\["([a-z0-9_]+)"\]\s*=\s*(\S+)', body)
    seen = set(lit)
    for name, rhs in assigns:
        # intentional alias: sqls["a"] = sqls["b"] reuses another gate's
        # SQL under a NEW name; only flag re-assignments of an old name
        assert name not in seen, f"oracle_sql key {name!r} shadowed"
        seen.add(name)


def test_oracle_sums_are_cast_or_rounded():
    """DuckDB's sum(BIGINT) returns HUGEINT (int128), which pandas
    materializes as an object column and the driver's exact hash then
    mismatches Spark's int64 (round-6 red rows).  Guard: every sum(...) in
    a final SELECT must be wrapped in round(...) or CAST(... AS BIGINT/
    DOUBLE) somewhere on its line."""
    oracles = entry_mod.oracle_sql()
    offenders = []
    for name, sql in oracles.items():
        for line in sql.splitlines():
            low = line.lower()
            if "sum(" not in low:
                continue
            # OK when the sum is wrapped (round/cast/epoch arithmetic) or
            # consumed by an outer aggregate/window on the same line.
            if ("round(" in low or "cast(" in low or "::" in low
                    or "over" in low or "list_sum" in low
                    or "sum(" not in low.split("as")[0] and "as" in low):
                continue
            # sums inside CTE bodies are fine — only flag bare top-level
            # projections, recognized by the "AS alias" suffix with no wrap.
            if re.search(r"^\s*sum\(|\ssum\(", low) and " as " in low:
                offenders.append((name, line.strip()))
    assert not offenders, f"bare sum() projections in oracle SQL: {offenders}"


def test_changed_gates_tool_machinery():
    """tools/changed_gates.py (rotation hygiene, round-10 verdict #2):
    its AST function index must see the gate functions and their
    references, and a no-op diff (ref=HEAD with a clean tree, or any
    ref) must never report a gate as MISSING when _CHANGED_THIS_ROUND
    covers the derivably-affected set — the exact invariant the tool
    exists to enforce at commit time."""
    import os
    import subprocess
    import sys as _sys

    sys_path_root = os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))
    tools = os.path.join(sys_path_root, "tools")
    _sys.path.insert(0, tools)
    try:
        import changed_gates as cg
    finally:
        _sys.path.remove(tools)

    fns = cg._functions("__spark_entry__.py")
    assert "q_kmeans_train" in fns
    a, b, refs = fns["q_kmeans_train"]
    assert a < b and "kmeans_lloyd" in refs
    # class methods are indexed too (Table.scan lives in a class)
    tbl = cg._functions("zdb_spark/table.py")
    assert "scan" in tbl

    # the audit itself must pass against the current round boundary
    proc = subprocess.run(
        [_sys.executable, os.path.join(tools, "changed_gates.py"),
         "--quiet"], capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr or proc.stdout

    # boundary stability (round-10 handoff-red fix): while the newest
    # CORRECTNESS file is UNCOMMITTED (the driver just wrote it), gates
    # whose FIRST history row is that round stay exempt; the exemption
    # switches off once the boundary commit tracks the file, and never
    # covers gates first seen in an earlier round.
    first = {"born_this_round": 11, "older_gate": 9}
    assert cg.boundary_exempt(first, 11, max_file_tracked=False) == \
        {"born_this_round"}
    assert cg.boundary_exempt(first, 11, max_file_tracked=True) == set()


def test_behavior_sigs_drop_duplicate_method_names():
    """Round-12 advice: same-named methods in two classes of one file
    must NOT share a bare-name key (last-wins shadowing could classify
    a behavior change in the first as docstring-only and silently skip
    the rule-1 queue).  Duplicated names are dropped entirely, which
    disables the exemption — the over-verify direction."""
    import os
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    _sys.path.insert(0, tools)
    try:
        import changed_gates as cg
    finally:
        _sys.path.remove(tools)

    src = ("class A:\n"
           "    def run(self):\n"
           "        return 1\n"
           "    def only_a(self):\n"
           "        return 0\n"
           "class B:\n"
           "    def run(self):\n"
           "        return 2\n"
           "def solo():\n"
           "    return 3\n")
    sigs = cg._behavior_sigs(src)
    assert "run" not in sigs           # duplicated -> dropped
    assert "only_a" in sigs and "solo" in sigs
    # docstring-only change on a NON-duplicated name still compares
    # equal (the exemption the tool exists to keep)
    src2 = src.replace("def solo():\n",
                       'def solo():\n    """doc."""\n')
    assert cg._behavior_sigs(src2)["solo"] == sigs["solo"]


def test_bench_canary_verdict_edges():
    """bench.py canary protocol (round-10 advice): the degraded verdict
    must be None (not False) when the band doesn't apply (non-1M row
    count) or when BOTH samples errored; a single missing sample keeps
    a verdict from the survivor and names the gap in the note."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    lo = bench.CANARY_BAND[0]
    good = lo + 1
    bad = int(lo / bench.CANARY_TOLERANCE) - 1

    assert bench._canary_degraded(None) is None
    assert bench._canary_degraded(good) is False
    assert bench._canary_degraded(bad) is True

    def verdict(before, after, rows=1_000_000):
        c = {"rows": rows, "before": before, "after": after}
        bench._apply_canary_verdict(c, band_applies=rows == 1_000_000)
        return c

    # 2M rows: never a verdict, regardless of the sample values
    c = verdict(bad, bad, rows=2_000_000)
    assert c["degraded"] is None and "pinned for 1,000,000" in c["note"]
    # both samples errored: bench ERROR, not a measurement
    c = verdict(None, None)
    assert c["degraded"] is None and "errored" in c["note"]
    # one missing sample: verdict from the survivor, gap named
    c = verdict(None, good)
    assert c["degraded"] is False and "'before' sample missing" in c["note"]
    c = verdict(None, bad)
    assert c["degraded"] is True
    assert "'before' sample missing" in c["note"]
    assert "degraded" in c["note"]
    # clean window: no note at all
    c = verdict(good, good)
    assert c["degraded"] is False and "note" not in c
    assert c["below_band"] is False

    # ---- below_band honesty (round-12 verdict task 3) ----
    edge = lo - 1          # below the floor but inside the tolerance
    assert bench._canary_below_band(None) is None
    assert bench._canary_below_band(good) is False
    assert bench._canary_below_band(edge) is True
    # an edge miss on EITHER side flags the window even though the
    # degraded verdict stays False (the exact r12 vacuous-pass shape:
    # after=577k with a 620k floor must not read clean)
    c = verdict(good, edge)
    assert c["degraded"] is False and c["below_band"] is True
    assert "below the clean band floor" in c["note"]
    c = verdict(edge, good)
    assert c["below_band"] is True
    # a recorded tie-break settles the disagreement by majority
    def verdict3(before, after, tiebreak):
        c = {"rows": 1_000_000, "before": before, "after": after,
             "tiebreak": tiebreak}
        bench._apply_canary_verdict(c, band_applies=True)
        return c
    assert verdict3(good, edge, good)["below_band"] is False
    assert verdict3(good, edge, edge)["below_band"] is True
    # degraded still dominates the note; below_band never reads cleaner
    c = verdict(good, bad)
    assert c["degraded"] is True and c["below_band"] is True
    assert "degraded" in c["note"]
    # None-verdict branches carry below_band = None too
    assert verdict(bad, bad, rows=2_000_000)["below_band"] is None
    assert verdict(None, None)["below_band"] is None


def test_bench_stream_sink_flags_accept_any_real():
    """The stream-sink drift flag takes any real reading, float rates
    included; a bool, None or an error string adds no canary keys."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod3", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    floor = bench.STREAM_SINK_REF_FLOOR
    assert bench._stream_sink_flags(floor - 0.5) == {
        "stream_sink": floor - 0.5, "stream_sink_ref_floor": floor,
        "stream_sink_below_ref": True}
    assert bench._stream_sink_flags(floor)["stream_sink_below_ref"] is False
    assert bench._stream_sink_flags(812_000.25)["stream_sink"] == 812_000.25
    for reading in (True, None, "RuntimeError: boom"):
        assert bench._stream_sink_flags(reading) == {}


def test_bench_compact_line_size_guard():
    """bench.py stdout-size guard (round-13 verdict task 2): the driver
    records only ~2000 chars of bench stdout, and BENCH_r13.json came
    back `parsed: null` when 77 queries overflowed the single line.
    _compact_line must keep the line under LINE_LIMIT at any realistic
    query count while preserving total/canary/write/sidecar-pointer."""
    import importlib.util
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod2", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    def artifact(n_queries, n_errors=0):
        return {
            "metric": "headline_queries_total",
            "value": round(1.234 * n_queries, 3),
            "unit": "sec",
            "sf": 0.1,
            "queries": {f"query_name_with_length_{i:04d}":
                        round(0.1 * (i % 37) + 0.123, 3)
                        for i in range(n_queries)},
            "write_throughput": {"batch_write": 712345,
                                 "stream_sink": 1013176,
                                 "rows": 1000000, "unit": "rows_per_sec"},
            "canary": {"metric": "batch_write_rows_per_sec",
                       "rows": 1000000, "clean_band": [620000, 800000],
                       "tolerance": 1.3, "before": 577000, "after": 556725,
                       "tiebreak": 601000, "degraded": False,
                       "below_band": True,
                       "note": "canary below the clean band floor " * 4},
            "errors": {f"err_gate_{i}": "RuntimeError: boom" * 10
                       for i in range(n_errors)},
        }

    # every realistic size — including far past today's 78 queries and a
    # pathological error map — fits the driver capture window
    for n, errs in [(10, 0), (78, 0), (150, 3), (400, 40)]:
        line = json.dumps(bench._compact_line(artifact(n, errs)),
                          separators=(",", ":"))
        assert len(line) <= bench.LINE_LIMIT, (n, errs, len(line))
        parsed = json.loads(line)
        assert parsed["value"] == round(1.234 * n, 3)
        assert parsed["n_queries"] == n
        assert parsed["detail"] == bench.SIDECAR
        assert parsed["canary"]["below_band"] is True
        assert "note" not in parsed["canary"]  # long note sidecar-only
        assert parsed["write_throughput"]["batch_write"] == 712345
        if errs:
            assert parsed["n_errors"] == errs
        # queries subset is the SLOWEST ones, values intact
        full = artifact(n, errs)["queries"]
        for k, v in parsed["queries"].items():
            assert full[k] == v
        if parsed["queries"]:
            kept_min = min(parsed["queries"].values())
            dropped = [v for k, v in full.items()
                       if k not in parsed["queries"]]
            assert not dropped or kept_min >= max(dropped)

    # tiebreak key is omitted when absent (None), kept when sampled
    art = artifact(5)
    del art["canary"]["tiebreak"]
    assert "tiebreak" not in bench._compact_line(art)["canary"]


def test_changed_exemptions_are_wellformed():
    """_CHANGED_BUT_LOCALLY_PROVEN contract: every entry is a real
    gate, carries a non-empty proof sentence, is not ALSO queued (an
    exemption for a queued gate is a contradiction), and is not
    currently red (a red gate always needs its own driver row)."""
    ex = getattr(entry_mod, "_CHANGED_BUT_LOCALLY_PROVEN", {})
    gates = dict(entry_mod._QUERY_DECLARATIONS)
    hist = entry_mod._verification_history()
    for g, reason in ex.items():
        assert g in gates, f"exempt {g!r} is not a gate"
        assert isinstance(reason, str) and len(reason) > 20, \
            f"exempt {g!r} needs a real proof sentence"
        assert g not in entry_mod._CHANGED_THIS_ROUND
        h = hist.get(g)
        red = h is not None and h[1] is not None and (
            h[0] is None or h[1] > h[0])
        assert not red, f"exempt {g!r} is RED — it needs its own row"


def test_covers_pairs_share_an_implementing_operator():
    """_COVERS honesty contract: a composite may refresh a sub-gate's
    rotation age ONLY if its q_ function actually executes an operator
    function (defined under zdb_spark/operators/) that the sub-gate's
    q_ function also executes.  "Executes" is the TRANSITIVE closure
    over the operator call graph (build_ivfpq_index really runs
    ivf_index + pq_train even though the q_ function names only the
    composite entry point), restricted to PUBLIC operator names —
    underscore helpers and the generic `let` combinator appear in
    nearly every closure and would make the claim vacuous."""
    import os
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    _sys.path.insert(0, tools)
    try:
        import changed_gates as cg
    finally:
        _sys.path.remove(tools)

    entry_fns = cg._functions("__spark_entry__.py")
    op_fns: dict = {}
    op_dir = os.path.join(root, "zdb_spark", "operators")
    for f in os.listdir(op_dir):
        if f.endswith(".py"):
            op_fns.update(cg._functions(f"zdb_spark/operators/{f}"))
    op_names = set(op_fns)
    gate_fn = {n: fn.__name__ for n, fn in entry_mod._QUERY_DECLARATIONS}

    def closure(refs: set) -> set:
        seen = set(refs & op_names)
        frontier = list(seen)
        while frontier:
            fn = frontier.pop()
            for r in op_fns[fn][2] & op_names:
                if r not in seen:
                    seen.add(r)
                    frontier.append(r)
        return {n for n in seen if not n.startswith("_") and n != "let"}

    for comp, subs in entry_mod._COVERS.items():
        assert comp in gate_fn, f"_COVERS composite {comp!r} not a gate"
        comp_ops = closure(entry_fns[gate_fn[comp]][2])
        for sub in subs:
            assert sub in gate_fn, f"_COVERS sub {sub!r} not a gate"
            sub_ops = closure(entry_fns[gate_fn[sub]][2])
            shared = comp_ops & sub_ops
            assert shared, (f"_COVERS pair ({comp}, {sub}) shares no "
                            f"operator function — coverage claim false")


def test_coverage_never_clears_red_or_first_row(monkeypatch, tmp_path):
    """Coverage semantics: a composite green must bump a sub-gate's
    green age, but never resurrect a red-after-green sub-gate and never
    touch a gate with no direct row."""
    import json
    import os

    g = {"rows_match": True, "schema_match": True, "hash_match": True}
    r = {"rows_match": True, "schema_match": True, "hash_match": False}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {"compo": g, "fresh_sub": g, "red_sub": g}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {"red_sub": r}))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(
        {"compo": g}))

    monkeypatch.setattr(entry_mod.os.path, "dirname",
                        lambda _p: str(tmp_path))
    monkeypatch.setattr(entry_mod, "_COVERS",
                        {"compo": ["fresh_sub", "red_sub", "never_sub"]})
    hist = entry_mod._verification_history()
    assert hist["fresh_sub"] == (3, None)      # bumped by compo's r3
    assert hist["red_sub"] == (1, 2)           # red preserved, no bump
    assert "never_sub" not in hist             # no direct row -> untouched


def test_r13_staged_gates_are_registered(spark):
    """The three gates staged through round 12 behind window capacity
    (kmv_quantiles, hll_store, multimodal_containers) are REGISTERED in
    round 13: each has a queries() entry and an oracle_sql() entry, and
    each matches its oracle bit-exactly (the same comparator the
    driver-green claim rests on).  hll_store's oracle is hll_vocab's
    whole-corpus register SQL verbatim — the documented alias proving
    incremental max-merge == whole-corpus sketch."""
    import os
    import sys as _sys

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_correctness as cc
    finally:
        _sys.path.remove(os.path.join(root, "tools"))

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    qs, sqls = entry_mod.queries(), entry_mod.oracle_sql()
    names = ("kmv_quantiles", "hll_store", "multimodal_containers")
    for name in names:
        assert name in qs and name in sqls, name
    assert sqls["hll_store"] == sqls["hll_vocab"]
    for name in names:
        spark_pdf = qs[name](spark, sf).toPandas()
        duck_pdf = con.execute(sqls[name]).df()
        errs = cc.compare(name, spark_pdf, duck_pdf)
        assert not errs, (name, errs)
        assert len(spark_pdf) > 0


def test_plan_audit_flag_detection():
    """tools/plan_audit.py's red-flag scanner: unit-level pin that it
    catches the three anti-patterns and ignores the sanctioned
    Arrow-batched Python nodes."""
    import os
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import plan_audit as pa
    finally:
        _sys.path.remove(os.path.join(root, "tools"))

    assert pa.audit("*(1) CartesianProduct\n+- Scan parquet") == \
        ["CartesianProduct"]
    assert pa.audit("BroadcastNestedLoopJoin BuildRight, Inner") == \
        ["BroadcastNestedLoopJoin"]
    assert pa.audit("BatchEvalPython [f(x)]") == \
        ["row-at-a-time BatchEvalPython"]
    # Arrow-batched Python is the sanctioned path — never flagged
    assert pa.audit("ArrowEvalPython [g(x)]\n+- MapInPandas h(y)") == []
    assert pa.audit("*(2) HashAggregate\n+- Exchange hashpartitioning") \
        == []
    # every waiver names a real gate
    import __spark_entry__ as em
    gates = {n for n, _ in em._QUERY_DECLARATIONS}
    assert set(pa._WAIVED) <= gates, set(pa._WAIVED) - gates


def test_r15_md_gate_matches_oracle(spark):
    """md_extract (registered round 15 after staging through the full
    r14 window) stays green against its oracle with the driver's own
    comparator."""
    import os
    import sys as _sys

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_correctness as cc
    finally:
        _sys.path.remove(os.path.join(root, "tools"))

    assert "md_extract" in entry_mod.queries()      # registered r15
    sql = entry_mod.oracle_sql()["md_extract"]
    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    spark_pdf = entry_mod.q_md_extract(spark, sf).toPandas()
    duck_pdf = con.execute(sql).df()
    errs = cc.compare("md_extract", spark_pdf, duck_pdf)
    assert not errs, errs
    assert len(spark_pdf) == 500


def test_r15_url_gate_matches_oracle(spark):
    """url_dedup (registered round 15).  The gate derives four URL
    spellings per id-group; the oracle states the expected canonical
    form + election in closed form — proven with the driver's own
    comparator."""
    import os
    import sys as _sys

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_correctness as cc
    finally:
        _sys.path.remove(os.path.join(root, "tools"))

    assert "url_dedup" in entry_mod.queries()       # registered r15
    sql = entry_mod.oracle_sql()["url_dedup"]
    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    spark_pdf = entry_mod.q_url_dedup(spark, sf).toPandas()
    duck_pdf = con.execute(sql).df()
    errs = cc.compare("url_dedup", spark_pdf, duck_pdf)
    assert not errs, errs
    assert len(spark_pdf) == 500
    # the election is non-trivial on this corpus: 3 of 4 rows are dups
    assert int(spark_pdf["is_canonical"].sum()) == 250


def test_r15_docx_gate_matches_oracle(spark):
    """docx_extract (registered round 15 with md_extract).  Its oracle
    is pdf_extract's line-aware SQL verbatim — that sharing is proven
    with the driver's own comparator."""
    import os
    import sys as _sys

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_correctness as cc
    finally:
        _sys.path.remove(os.path.join(root, "tools"))

    assert "docx_extract" in entry_mod.queries()    # registered r15
    sql = entry_mod.oracle_sql()["docx_extract"]
    assert sql == entry_mod._PDF_EXTRACT_ORACLE           # the alias
    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    spark_pdf = entry_mod.q_docx_extract(spark, sf).toPandas()
    duck_pdf = con.execute(sql).df()
    errs = cc.compare("docx_extract", spark_pdf, duck_pdf)
    assert not errs, errs
    assert len(spark_pdf) == 500


def test_pdf_gate_matches_oracle(spark):
    """pdf_extract (registered round 14) stays green against its oracle
    with the driver's own comparator — the fixture corpus alternates
    classic-xref and xref-stream/ObjStm writers by doc_id parity, so
    this one compare covers BOTH ISO 32000-1 cross-reference forms."""
    import os
    import sys as _sys

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_correctness as cc
    finally:
        _sys.path.remove(os.path.join(root, "tools"))

    assert "pdf_extract" in entry_mod.queries()           # live
    sql = entry_mod.oracle_sql()["pdf_extract"]
    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    spark_pdf = entry_mod.q_pdf_extract(spark, sf).toPandas()
    duck_pdf = con.execute(sql).df()
    errs = cc.compare("pdf_extract", spark_pdf, duck_pdf)
    assert not errs, errs
    assert len(spark_pdf) == 500
