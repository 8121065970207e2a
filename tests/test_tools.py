"""Unit tests for the gate tools themselves — a wrong margin-sweep
parser silently un-gates the rounding-wobble class it exists to catch,
so the parser is pinned like any operator."""

from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(modname: str):
    spec = importlib.util.spec_from_file_location(
        modname, os.path.join(ROOT, "tools", f"{modname}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_strip_rounds_parser():
    ms = _load("margin_sweep")
    # two-arg round stripped to (EXPR), alias + k captured
    out, sites = ms.strip_rounds(
        "SELECT round(sum(x), 2) AS total, round(avg(y), 4) AS m FROM t"
    )
    assert out == "SELECT (sum(x)) AS total, (avg(y)) AS m FROM t"
    assert [(s["alias"], s["k"]) for s in sites] == [("total", 2), ("m", 4)]

    # nested: inner single-arg cents round stays, outer stripped; commas
    # inside nested calls must not split the outer arguments
    out, sites = ms.strip_rounds(
        "SELECT round(sum(CAST(round(v * 100) AS BIGINT)) / nullif(n, 0), 4)"
        " AS avg_v FROM t"
    )
    assert "round(v * 100)" in out
    assert out.count("round") == 1  # only the inner one remains
    assert sites == [{"alias": "avg_v", "k": 4}]

    # no alias -> site recorded with alias None (counts as unscoped)
    out, sites = ms.strip_rounds("SELECT round(x, 2) FROM t")
    assert sites == [{"alias": None, "k": 2}]

    # no two-arg sites at all
    out, sites = ms.strip_rounds("SELECT round(x) FROM t")
    assert sites == [] and "round(x)" in out


def test_margin_of():
    ms = _load("margin_sweep")
    # 0.12345 at k=4: frac(1234.5) = .5 -> margin 0 (exact boundary)
    assert ms.margin_of([0.12345], 4) == 0.0
    # 0.1234 at k=4 sits on the grid -> margin ~0.5
    assert abs(ms.margin_of([0.1234], 4) - 0.5) < 1e-6
    # min over values; None/NaN skipped
    m = ms.margin_of([None, 0.1234, 0.12345], 4)
    assert m == 0.0
    assert ms.margin_of([float("nan")], 4) is None


def test_margins_artifact_is_clean_and_allowlist_is_live():
    """The committed MARGINS.json must show a 0-flag gate, and every
    PER_ROW_OK allow-list entry must name a query that still exists in
    the swept artifact — a renamed/removed query in the allow-list is
    dead weight that could mask a future real flag under the old name."""
    ms = _load("margin_sweep")
    with open(os.path.join(ROOT, "MARGINS.json")) as f:
        data = json.load(f)
    assert data["flagged"] == 0
    # an erroring stripped oracle means a query's margins were never
    # measured — the sweep must record and gate on zero errors, else a
    # strip_rounds regression silently un-gates that query
    assert data.get("errors", 0) == 0
    assert all(
        not ent["err"] for rep in data["sweeps"].values() for ent in rep.values()
    )
    assert data["fail_margin"] == ms.FAIL_MARGIN
    swept = set()
    for rep in data["sweeps"].values():
        swept |= set(rep)
    for name, col in ms.PER_ROW_OK:
        assert name in swept, f"allow-list names unknown query {name}"


def test_persisted_artifact_lifecycle(spark, tmp_path, monkeypatch):
    """persisted_artifact contract (ADVICE r9): reuse across 'sessions'
    (memo cleared = fresh probe), torn builds never served, superseded
    fingerprints pruned, artifact_clear forces a rebuild."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import util

    monkeypatch.setattr(
        util, "_artifacts_base", lambda _spark: str(tmp_path / "_artifacts")
    )
    builds = []

    def build_factory(tag):
        def build(tmp):
            builds.append(tag)
            with open(os.path.join(tmp, "payload.txt"), "w") as f:
                f.write(tag)

        return build

    sf = "/root/testdata/sf0.001"
    r1 = util.persisted_artifact(spark, "k", sf, "fp1", build_factory("a"))
    assert builds == ["a"]
    assert os.path.isfile(os.path.join(r1, util._ARTIFACT_MARKER))
    # warm in-session call: no probe, no rebuild
    assert util.persisted_artifact(spark, "k", sf, "fp1", build_factory("b")) == r1
    assert builds == ["a"]
    # 'new session': memo gone, artifact on disk reused, not rebuilt
    util.memo_clear(spark)
    assert util.persisted_artifact(spark, "k", sf, "fp1", build_factory("c")) == r1
    assert builds == ["a"]
    # torn build (marker missing) is rebuilt, never served
    util.memo_clear(spark)
    os.remove(os.path.join(r1, util._ARTIFACT_MARKER))
    util.persisted_artifact(spark, "k", sf, "fp1", build_factory("d"))
    assert builds == ["a", "d"]
    # a new fingerprint prunes the superseded one — no orphan dirs
    util.memo_clear(spark)
    r2 = util.persisted_artifact(spark, "k", sf, "fp2", build_factory("e"))
    assert builds == ["a", "d", "e"]
    kind_dir = os.path.dirname(r2)
    assert sorted(os.listdir(kind_dir)) == ["fp2"]
    # different sf tag = separate prune scope
    r3 = util.persisted_artifact(
        spark, "k", "/root/testdata/sf0.01", "fp9", build_factory("f")
    )
    assert os.path.isdir(r2) and os.path.isdir(r3)
    # sf-scoped clear (ADVICE r10): wipes ONLY the given fixture's
    # kind dirs — the other sf's live artifact survives (a concurrent
    # bench/check session on the other fixture keeps its artifacts)
    util.artifact_clear(spark, sf)
    assert not os.path.isdir(r2) and os.path.isdir(r3)
    util.persisted_artifact(spark, "k", sf, "fp2", build_factory("g"))
    assert builds == ["a", "d", "e", "f", "g"]
    # unscoped clear wipes everything + memo -> next call rebuilds
    util.artifact_clear(spark)
    assert not os.path.isdir(r3)
    util.persisted_artifact(spark, "k", sf, "fp2", build_factory("h"))
    assert builds == ["a", "d", "e", "f", "g", "h"]
    # a failing build leaves no tmp droppings and no marker
    def boom(tmp):
        raise RuntimeError("build failed")

    try:
        util.persisted_artifact(spark, "k2", sf, "fpx", boom)
    except RuntimeError:
        pass
    else:
        raise AssertionError("build exception must propagate")
    k2 = os.path.join(str(tmp_path / "_artifacts"), "k2-sf0.001")
    assert not os.path.isdir(k2) or os.listdir(k2) == []


def test_persisted_artifact_prune_spares_live_tmp_builds(spark, tmp_path, monkeypatch):
    """Publish-time pruning reaps superseded artifacts and ABANDONED
    tmp dirs, but never a fresh tmp (another builder may be mid-write
    in it)."""
    import time as _time

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import util

    monkeypatch.setattr(
        util, "_artifacts_base", lambda _spark: str(tmp_path / "_artifacts")
    )
    sf = "/root/testdata/sf0.001"

    def build(tmp):
        with open(os.path.join(tmp, "payload.txt"), "w") as f:
            f.write("x")

    util.persisted_artifact(spark, "kp", sf, "fpA", build)
    kind_dir = os.path.join(str(tmp_path / "_artifacts"), "kp-sf0.001")
    fresh = os.path.join(kind_dir, ".tmp-fpB-live")
    stale = os.path.join(kind_dir, ".tmp-fpC-dead")
    os.makedirs(fresh)
    os.makedirs(stale)
    old = _time.time() - 7200
    os.utime(stale, (old, old))
    util.memo_clear(spark)
    util.persisted_artifact(spark, "kp", sf, "fpB", build)
    entries = sorted(os.listdir(kind_dir))
    assert "fpB" in entries                 # new artifact published
    assert "fpA" not in entries             # superseded artifact pruned
    assert ".tmp-fpB-live" in entries       # fresh tmp spared
    assert ".tmp-fpC-dead" not in entries   # abandoned tmp reaped


def test_persisted_artifact_concurrent_builders_converge(spark, tmp_path, monkeypatch):
    """Two concurrent builders of the SAME fingerprint both return the
    published root; exactly one build wins the rename, the loser's tmp
    is cleaned up."""
    import threading

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import util

    monkeypatch.setattr(
        util, "_artifacts_base", lambda _spark: str(tmp_path / "_artifacts")
    )
    sf = "/root/testdata/sf0.001"
    gate = threading.Barrier(2, timeout=30)
    results, errors = [], []

    def build(tmp):
        gate.wait()  # both builders inside build() simultaneously
        with open(os.path.join(tmp, "payload.txt"), "w") as f:
            f.write("x")

    def run():
        try:
            # the memo is keyed per (app, ...) and shared, so the main
            # thread replaces util.memo with a pass-through below: both
            # threads then run resolve and really race the publish.
            results.append(util.persisted_artifact(spark, "kc", sf, "fpX", build))
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    # defeat the memo so both threads really race the fs protocol
    orig_memo = util.memo
    monkeypatch.setattr(util, "memo", lambda _s, _k, _v, fn: fn())
    t1, t2 = threading.Thread(target=run), threading.Thread(target=run)
    t1.start(); t2.start(); t1.join(30); t2.join(30)
    monkeypatch.setattr(util, "memo", orig_memo)
    assert not errors, errors
    assert len(set(results)) == 1
    root = results[0]
    assert os.path.isfile(os.path.join(root, util._ARTIFACT_MARKER))
    kind_dir = os.path.dirname(root)
    assert sorted(os.listdir(kind_dir)) == ["fpX"]  # no tmp droppings
