"""Catalog-convention enforcement: the two driver-canonicalization failure
classes from round 2 must never reappear (see queries/catalog.py docstring).

1. HUGEINT oracles: DuckDB types an integer ``sum()`` / ``list_sum()`` as
   HUGEINT, which pandas materializes as float64 — ``5995.0`` vs Spark's
   ``5995`` is a value-hash mismatch on cell-identical results. Every
   integer sum must be ``CAST(... AS BIGINT)``. Checked precisely by asking
   DuckDB for each oracle's result types (catches any future construct that
   widens to HUGEINT, not just textual ``sum(``).

2. Complex-typed outputs: the driver canonicalizes every result (even
   rows-only checks) with pandas ``sort_values``, which crashes on
   unhashable array/map cells. No catalog query may return array, map, or
   struct columns — wrap with ``to_json`` / ``array_join`` or explode.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from irio_mapreduce_spark import queries as catalog
from tests.conftest import SF_DIR, get_query_frame

_QUERIES = catalog.all_queries()
_ORACLES = catalog.all_oracles()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_returns_no_hugeint(name, duck):
    rel = duck.sql(f"SELECT * FROM ({_ORACLES[name]}) LIMIT 0")
    offenders = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper() or "INT128" in str(t).upper()
    ]
    assert not offenders, (
        f"{name}: oracle columns {offenders} are HUGEINT — pandas will "
        "materialize them as float64 and the driver hash will mismatch "
        "Spark's long; CAST the sum to BIGINT"
    )


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_returns_no_complex_columns(name, spark):
    # r13: construct once, share with the oracle sweep (conftest
    # CONSTRUCTED_FRAMES — streaming entries drain during construction).
    df = get_query_frame(name, spark)
    offenders = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not offenders, (
        f"{name}: columns {offenders} are array/map/struct — the driver's "
        "pandas canonicalization crashes on unhashable cells; render with "
        "to_json/array_join or explode to rows"
    )


def test_front_window_consistent_with_registry():
    """The driver checks the first 50 catalog entries in listing order;
    FRONT_WINDOW pins that prefix. Every listed name must exist, fit the
    50-slot budget, and actually lead all_queries()."""
    from irio_mapreduce_spark.queries.catalog import FRONT_WINDOW

    names = list(_QUERIES)
    unknown = [n for n in FRONT_WINDOW if n not in _QUERIES]
    assert not unknown, f"FRONT_WINDOW names not registered: {unknown}"
    assert len(FRONT_WINDOW) == len(set(FRONT_WINDOW)), "duplicates in FRONT_WINDOW"
    assert len(FRONT_WINDOW) <= 50, (
        f"FRONT_WINDOW has {len(FRONT_WINDOW)} entries — the driver only "
        "checks 50; trim it or accept silent exclusion"
    )
    assert names[: len(FRONT_WINDOW)] == FRONT_WINDOW


def test_front_window_covers_all_unverified_entries():
    """Round-11 rotation contract (r10 VERDICT.md item 9): the r1-r10
    driver-green union covers the whole catalog, so the window becomes a
    REFRESH cycle. Three obligations: (1) every entry WITHOUT a
    driver-green row (i.e. new round-11 additions) sits inside the
    50-entry window or is pinned in DEFERRED_TO_NEXT_WINDOW; (2) the
    window's remaining slots go to the entries whose LATEST green row is
    globally oldest — no already-attested entry outside the window may
    be staler than one inside it (attestation freshness stays bounded);
    (3) deferral stays window-overflow-only."""
    import glob
    import json
    import os

    from irio_mapreduce_spark.queries.catalog import (
        DEFERRED_TO_NEXT_WINDOW,
        FRONT_WINDOW,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prior = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r[0-9]*.json")))
    assert len(prior) >= 10, "missing prior-round driver files"
    latest: dict[str, int] = {}
    seen: set[str] = set()
    for p in prior:
        rnd = int(os.path.basename(p).split("_r")[1].split(".")[0])
        rows = json.load(open(p))
        seen |= set(rows)
        for k, v in rows.items():
            if v.get("hash_match"):
                latest[k] = max(latest.get(k, 0), rnd)
    needs_row = [n for n in _QUERIES if n not in latest]
    window = set(list(_QUERIES)[:50])
    missing = [
        n
        for n in needs_row
        if n not in window and n not in DEFERRED_TO_NEXT_WINDOW
    ]
    assert not missing, (
        f"entries still lacking a driver-green row are outside the "
        f"50-entry window and not declared deferred: {missing}"
    )
    # refresh discipline: window refresh slots = globally oldest-attested.
    # Enforced only while the WINDOW ITSELF holds fresh (never-attested)
    # entries, i.e. after this round's rotation: at the NEXT round's
    # start the previous window is fully driver-attested and trivially
    # the newest vintage, and any fresh entries live in the DEFERRED
    # queue — the obligation then falls on that round's rotation, not on
    # the inherited list (a finished window must not turn the suite red
    # before the next rotation commit).
    if any(n in window for n in needs_row):
        in_window_attested = [latest[n] for n in window if n in latest]
        out_attested = [latest[n] for n in latest if n not in window]
        if in_window_attested and out_attested:
            assert max(in_window_attested) <= min(out_attested), (
                "an already-attested entry outside the window is staler "
                "than a refresh entry inside it — rotate the stalest in"
            )
        # bench.py warms the first WINDOW_WARMUP_COUNT entries unmeasured;
        # every fresh (never-attested) window entry must sit inside that
        # warmed head, or its first driver timing records cold-start
        # noise (the r10 ADVICE literal-drift bug, enforced not promised)
        from irio_mapreduce_spark.queries.catalog import (
            WINDOW_WARMUP_COUNT,
        )

        fresh_positions = [
            i for i, n in enumerate(FRONT_WINDOW) if n in needs_row
        ]
        assert fresh_positions and max(fresh_positions) < WINDOW_WARMUP_COUNT, (
            f"fresh window entries at positions {fresh_positions} exceed "
            f"WINDOW_WARMUP_COUNT={WINDOW_WARMUP_COUNT} — bump the count "
            "next to FRONT_WINDOW so bench.py warms them"
        )
    # the round-12 head (if any) must fit one window
    assert len(DEFERRED_TO_NEXT_WINDOW) <= 50
    # deferral is for genuine window overflow only, never for displacing
    # rotation debt: every deferred entry must be registered, absent from
    # ALL prior driver files, and the window must be full.
    unknown_deferred = [n for n in DEFERRED_TO_NEXT_WINDOW if n not in _QUERIES]
    assert not unknown_deferred, (
        f"DEFERRED_TO_NEXT_WINDOW names not registered: {unknown_deferred}"
    )
    assert len(window) == 50
    overlap = seen & set(DEFERRED_TO_NEXT_WINDOW)
    assert not overlap, (
        f"deferred entries {overlap} already had driver rows in a prior "
        "round — they are rotation debt, not window overflow"
    )


def test_bench_exclude_outside_warmup_head():
    """bench.py's warm-up loop counts only non-EXCLUDE entries toward
    WINDOW_WARMUP_COUNT, while the freshness assertion above validates
    fresh-entry positions against raw FRONT_WINDOW indices. The two
    agree only while EXCLUDE never intersects the warmed head — pin
    that (r11 ADVICE.md: latent silent disagreement otherwise)."""
    import bench

    from irio_mapreduce_spark.queries.catalog import (
        FRONT_WINDOW,
        WINDOW_WARMUP_COUNT,
    )

    head = set(FRONT_WINDOW[:WINDOW_WARMUP_COUNT])
    overlap = head & bench.EXCLUDE
    assert not overlap, (
        f"bench EXCLUDE entries {overlap} sit inside the warmed head — "
        "warm-up indexing and the conventions freshness check would "
        "silently disagree; move them out of the head or rework the "
        "warm-up counting"
    )


def test_bench_line_fits_recorder_tail():
    """BENCH_r01..r03 all recorded ``parsed: null``: the recording harness
    keeps only the last ~2000 bytes of stdout, and the full 100+-entry
    per-query map outgrew that. The printed line must trim to the slowest
    entries within budget while keeping the total over ALL entries."""
    import json

    import bench

    timings = {f"q{i:03d}_some_longish_query_name": round(0.1 + i * 0.01, 3) for i in range(130)}
    timings["broken_entry"] = -1.0
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = bench.compact_result(timings, total, 0.1)
    line = json.dumps(payload, separators=(",", ":")) + "\n"
    assert len(line) <= 2000
    assert payload["value"] == total
    assert payload["queries_measured"] == len(timings)
    # failures are never trimmed out of the printed subset
    assert payload["queries"]["broken_entry"] == -1.0
    # the printed subset is the slowest measured entries
    slowest = max(timings.items(), key=lambda kv: kv[1])
    assert payload["queries"][slowest[0]] == slowest[1]
    assert len(payload["queries"]) > 20


def test_bench_reaped_cpu_counts_finished_children():
    """``jvm_child_cpu_s`` in BENCH_DETAIL.json is a delta of
    ``_reaped_cpu_s``: CPU of a child that has exited and been waited for
    must land in its parent's count."""
    import os
    import subprocess
    import sys

    import bench

    before = bench._reaped_cpu_s(os.getpid())
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert bench._reaped_cpu_s(os.getpid()) - before >= 0.25


def test_bench_compact_line_carries_contention_caveat():
    """r12 verdict "Next #7": the compact line must surface
    ``record_eligible`` + ``load_avg_start`` so a PERF comparison of two
    rounds' headline numbers carries the contention caveat automatically
    (the r12 driver bench started at load 3.04 and 15 of its 16 apparent
    regressions were contention, adjudicated only a round later)."""
    import bench

    payload = bench.compact_result(
        {"q": 1.0}, 1.0, 0.1, record_eligible=False,
        load_avg_start=[3.04, 6.97, 8.102],
    )
    assert payload["record_eligible"] is False
    assert payload["load_avg_start"] == [3.04, 6.97, 8.102]


def test_bench_unmeasured_warmup_list_is_pinned():
    """r12 verdict "Next #7": bench.py's UNMEASURED warm-up region is part
    of the measurement contract — a silently-added warmup call could
    absorb timed work and masquerade as a per-entry speedup (the r12
    replay-base warmup moved ~2.3 s of fixture build out of the timed
    region and had to be ledgered after the fact). Pin the EXACT call
    list: the window head (WINDOW_WARMUP_COUNT entries), the pysource
    runner probe, and the four named replay-fixture builders. Adding a
    warmup means updating this list IN THE SAME COMMIT, with the
    justification in the round's OPTIMIZATION log."""
    import ast
    import pathlib

    src = pathlib.Path(__file__).parent.parent / "bench.py"
    tree = ast.parse(src.read_text())
    main = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "main"
    )
    # every attribute-call of the form _sq.<name>(...) in main's body is a
    # replay-fixture warmup; collect (name, literal args beyond spark/sf)
    fixture_calls = []
    for node in ast.walk(main):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "_sq"
        ):
            lits = [
                a.value for a in node.args if isinstance(a, ast.Constant)
            ]
            fixture_calls.append((node.func.attr, tuple(lits)))
    assert fixture_calls == [
        ("_replay_dir", ()),
        ("_ordered_replay_dir", ()),
        ("_fresh_ordered_replay", (4, "bench_warm_ord4_")),
        ("_fresh_ordered_replay", (3, "bench_warm_ord3_")),
    ], fixture_calls
    # the only _force() calls OUTSIDE the timed loop are: the footer warm,
    # the window-head warm loop, the pysource probe (2 calls: batch write
    # is via .save(), the probe reads back with _force), i.e. warmup can
    # not silently grow a new _force site without failing here.
    force_count = sum(
        1
        for node in ast.walk(main)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "_force"
    )
    assert force_count == 4, force_count  # footer, window loop, pysource, timed loop


def test_one_session_memo_and_one_barrier_module():
    """Per-context state goes through ``session.session_memo`` and every
    materialization barrier through ``operators/barrier.py``: no
    ``localCheckpoint(`` call outside the barrier module, no
    ``applicationId`` read outside ``session.py``, and no import from
    ``llm/`` in ``operators/`` (the layering the barrier module keeps)."""
    import ast
    import pathlib

    pkg = pathlib.Path(catalog.__file__).resolve().parent.parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
                and rel != "operators/barrier.py"
            ):
                found.append(f"{rel}:{node.lineno} localCheckpoint(")
            elif (
                isinstance(node, ast.Attribute)
                and node.attr == "applicationId"
                and rel != "session.py"
            ):
                found.append(f"{rel}:{node.lineno} applicationId")
            elif rel.startswith("operators/") and (
                (
                    isinstance(node, ast.ImportFrom)
                    and (node.module or "").startswith("irio_mapreduce_spark.llm")
                )
                or (
                    isinstance(node, ast.Import)
                    and any(
                        a.name.startswith("irio_mapreduce_spark.llm")
                        for a in node.names
                    )
                )
            ):
                found.append(f"{rel}:{node.lineno} imports llm")
    assert not found, "\n".join(found)


def test_one_streaming_drain_and_one_conf_scope():
    """Every streaming query is started by ``streaming/ops.drain``: no
    ``writeStream``, ``awaitTermination`` or ``trigger(availableNow=...)``
    anywhere else in the package. Session conf is written only by
    ``session.py`` (the builder and ``scoped_conf``) and by ``io.py``'s
    session-wide ``nanosAsLong`` contract: no ``conf.unset(`` outside
    ``session.py``, no ``conf.set(`` outside those two modules."""
    import ast
    import pathlib

    pkg = pathlib.Path(catalog.__file__).resolve().parent.parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text(), rel)
        inside_drain = {
            id(node)
            for fn in tree.body
            if rel == "streaming/ops.py"
            and isinstance(fn, ast.FunctionDef)
            and fn.name == "drain"
            for node in ast.walk(fn)
        }
        for node in ast.walk(tree):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if id(node) in inside_drain:
                continue
            if isinstance(node, ast.Attribute) and node.attr in (
                "writeStream",
                "awaitTermination",
            ):
                found.append(f"{where} {node.attr}")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "trigger"
                and any(k.arg == "availableNow" for k in node.keywords)
            ):
                found.append(f"{where} trigger(availableNow=...)")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and getattr(node.func.value, "attr", None) == "conf"
                and rel != "session.py"
                and not (
                    rel == "io.py"
                    and node.func.attr == "set"
                    and getattr(node.args[0], "value", None)
                    == "spark.sql.legacy.parquet.nanosAsLong"
                )
            ):
                found.append(f"{where} conf.{node.func.attr}(")
    assert not found, "\n".join(found)


def test_one_media_batch_kernel():
    """Every media stage in ``llm/multimodal.py`` runs through its one
    batch kernel, which ships the package through ``session_memo``: one
    ``mapInPandas(`` call in that module, one ``ensure_package_shipped(``
    call site in the package, and no ``spark.conf.set`` of an internal
    ``spark.irio_mapreduce.*`` key anywhere in it."""
    import ast
    import pathlib

    pkg = pathlib.Path(catalog.__file__).resolve().parent.parent
    map_calls, ship_calls, conf_keys = [], [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "attr", None) or getattr(func, "id", None)
            where = f"{rel}:{node.lineno}"
            if name == "mapInPandas" and rel == "llm/multimodal.py":
                map_calls.append(where)
            elif name == "ensure_package_shipped":
                ship_calls.append(where)
            elif (
                name == "set"
                and isinstance(func, ast.Attribute)
                and getattr(func.value, "attr", None) == "conf"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and str(node.args[0].value).startswith("spark.irio_mapreduce.")
            ):
                conf_keys.append(where)
    assert len(map_calls) == 1, map_calls
    assert len(ship_calls) == 1, ship_calls
    assert not conf_keys, conf_keys


def test_one_per_group_rank_in_similarity_and_clustering():
    """Every per-group rank in ``llm/similarity.py`` (the ANN searches'
    refine kernel and PQ's ADC shortlist) and ``llm/clustering.py``
    (``knn_classify``'s neighbour rank and vote pick) goes through
    ``operators.topk.top_k_per_group``: neither module calls
    ``row_number(`` or builds a ``Window`` of its own."""
    import ast
    import pathlib

    pkg = pathlib.Path(catalog.__file__).resolve().parent.parent
    found = []
    for rel in ("llm/similarity.py", "llm/clustering.py"):
        for node in ast.walk(ast.parse((pkg / rel).read_text(), rel)):
            if isinstance(node, ast.Call):
                func = node.func
                name = getattr(func, "attr", None) or getattr(func, "id", None)
                if name == "row_number":
                    found.append(f"{rel}:{node.lineno} row_number(")
            elif isinstance(node, ast.Name) and node.id == "Window":
                found.append(f"{rel}:{node.lineno} Window")
    assert not found, "\n".join(found)
