"""Bench artifact-channel guards (VERDICT r9 items 1–2).

Round 9's BENCH json was recorded as ``parsed: null`` because the plan
fingerprints inlined into the single stdout line pushed
``metric/value/queries`` past the driver's 2000-char tail capture.
These tests pin the fix: the final line stays compact at the full
50-query registry and fingerprints live in a sidecar that bench_diff
can still resolve.  The stage-snapshot and plan-structure reads are
tested with their module in tests/test_telemetry.py.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import bench  # noqa: E402
import bench_diff  # noqa: E402


def _registry_names() -> list[str]:
    import __spark_entry__ as entrymod

    return list(entrymod.queries().keys())


def test_final_line_parses_and_fits_tail_at_full_registry():
    """Worst-case line (every real query name, 4-digit seconds) must fit
    the driver's 2000-char tail with headroom."""
    names = _registry_names()
    assert len(names) == 50, "registry budget is 50; resize this guard if it moves"
    timings = {n: 9999.999 for n in names}
    out = bench.build_output(
        timings, {}, 0.1, 2, 99.99, None,
        loadavg_start=88.88,
        plan_file="benchplans/BENCH_PLAN_20990101T000000_12345.json",
    )
    assert out["loadavg_start_1m"] == 88.88
    line = json.dumps(out)
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_wall_time"
    assert parsed["queries"] == timings
    assert len(line) < 1900, f"final stdout line {len(line)} chars ≥ 1900"
    assert "plan" not in parsed, "fingerprints must ride the sidecar, not stdout"


def test_final_line_with_errors_stays_parsable_and_capped():
    names = _registry_names()
    timings = {n: 1.0 for n in names[:45]}
    errors = {n: "Py4JJavaError: " + "x" * 500 for n in names[45:]}
    out = bench.build_output(timings, errors, 0.1, 2, 5.0, "AnalysisException: " + "y" * 500)
    line = json.dumps(out)
    parsed = json.loads(line)
    assert parsed["error_penalty_sec"] == 60.0 * 5
    assert parsed["error_count"] == 5
    assert all(len(v) <= 60 for v in parsed.get("errors", {}).values())
    assert abs(parsed["value"] - (45 * 1.0 + 300.0)) < 1e-6
    assert len(line) < 1900


def test_all_queries_erroring_still_fits_tail():
    """Degenerate total-breakage case: the penalty/count must survive
    the shedding loop even when every registry query errors."""
    names = _registry_names()
    errors = {n: "Py4JJavaError: " + "z" * 300 for n in names}
    out = bench.build_output({}, errors, 0.1, 2, 5.0, None)
    line = json.dumps(out)
    parsed = json.loads(line)
    assert parsed["error_count"] == 50
    assert parsed["value"] == 60.0 * 50
    assert len(line) < 1900


def test_plan_sidecar_roundtrips_through_bench_diff(tmp_path):
    fp = {"q1": {"stages": 7, "shuffle_bytes": 1234}}
    side = tmp_path / "BENCH_r10.plan.json"
    bench.write_plan_sidecar(fp, str(side), 3.14)
    payload = json.loads(side.read_text())
    assert payload["plan"] == fp and payload["loadavg_1m"] == 3.14

    bench_file = tmp_path / "BENCH_r10.json"
    bench_file.write_text(json.dumps({"queries": {"q1": 1.0}}))
    # stem sidecar resolution — returns (plan, resolved path, query_load)
    plan, src, qload = bench_diff.load_plan(
        str(bench_file), json.loads(bench_file.read_text()), None
    )
    assert plan == fp and src == os.path.realpath(str(side))
    assert qload == {}  # pre-r14 sidecar: no per-query load telemetry
    # inline plan (rounds ≤9) takes precedence over sidecars
    inline = {"queries": {"q1": 1.0}, "plan": {"q1": {"stages": 1, "shuffle_bytes": 0}}}
    assert bench_diff.load_plan(str(bench_file), inline, None) == (
        inline["plan"], None, {},
    )
    # explicit arg wins over everything
    other = tmp_path / "other.plan.json"
    bench.write_plan_sidecar({"q2": {"stages": 2, "shuffle_bytes": 9}}, str(other), 0.0)
    assert bench_diff.load_plan(str(bench_file), inline, str(other))[0] == {
        "q2": {"stages": 2, "shuffle_bytes": 9}
    }
    # round-11+ artifacts: the artifact's own plan_file key beats the
    # stem sidecar and the mutable directory default
    stamped = tmp_path / "BENCH_PLAN_20990101T000000_7.json"
    bench.write_plan_sidecar({"q3": {"stages": 4, "shuffle_bytes": 2}}, str(stamped), 0.0)
    with_pf = {"queries": {"q1": 1.0}, "plan_file": stamped.name}
    plan, src, _ = bench_diff.load_plan(str(bench_file), with_pf, None)
    assert plan == {"q3": {"stages": 4, "shuffle_bytes": 2}}
    assert src == os.path.realpath(str(stamped))


def test_plan_sidecar_carries_per_query_load(tmp_path):
    """Round-14 telemetry: write_plan_sidecar persists the per-query
    1-min loadavg samples and load_plan surfaces them (VERDICT r13
    item 2 — per-query load lets bench_diff tag contaminated samples
    mechanically instead of leaning on run-level loadavg)."""
    fp = {"q1": {"stages": 7, "shuffle_bytes": 1234}}
    side = tmp_path / "BENCH_r14.plan.json"
    bench.write_plan_sidecar(fp, str(side), 3.14, {"q1": 0.42})
    payload = json.loads(side.read_text())
    assert payload["query_load"] == {"q1": 0.42}
    bench_file = tmp_path / "BENCH_r14.json"
    bench_file.write_text(json.dumps({"queries": {"q1": 1.0}}))
    plan, src, qload = bench_diff.load_plan(
        str(bench_file), json.loads(bench_file.read_text()), None
    )
    assert plan == fp and qload == {"q1": 0.42}
    # empty/omitted query_load keeps the pre-r14 payload shape
    bench.write_plan_sidecar(fp, str(side), 3.14, {})
    assert "query_load" not in json.loads(side.read_text())
    assert "query_compiles" not in json.loads(side.read_text())
    # per-query codegen compiles of the last timed repeat ride along
    cg = {"q1": {"compiles": 0, "compile_ms": 0.0}}
    bench.write_plan_sidecar(fp, str(side), 3.14, {"q1": 0.42}, cg)
    assert json.loads(side.read_text())["query_compiles"] == cg


def test_bench_diff_directory_fallback(tmp_path):
    bench_file = tmp_path / "BENCH_r11.json"
    bench_file.write_text(json.dumps({"queries": {}}))
    bench.write_plan_sidecar({"qz": {"stages": 3, "shuffle_bytes": 7}}, str(tmp_path / "BENCH_PLAN.json"), 0.0)
    plan, src, _ = bench_diff.load_plan(str(bench_file), {"queries": {}}, None)
    assert plan == {"qz": {"stages": 3, "shuffle_bytes": 7}}
    assert os.path.basename(src) == "BENCH_PLAN.json"
    # nothing anywhere → ({}, None, {})
    lone = tmp_path / "sub"
    lone.mkdir()
    f = lone / "BENCH_r12.json"
    f.write_text("{}")
    assert bench_diff.load_plan(str(f), {}, None) == ({}, None, {})


def test_bench_diff_warns_on_shared_mutable_sidecar(tmp_path, capsys, monkeypatch):
    """Two artifacts that both fall back to the one mutable
    BENCH_PLAN.json must NOT be fingerprint-bucketed against it — the
    file holds only the newer run's plans (ADVICE r10)."""
    bench.write_plan_sidecar(
        {"q": {"stages": 3, "shuffle_bytes": 100}}, str(tmp_path / "BENCH_PLAN.json"), 0.0
    )
    for name in ("BENCH_r10.json", "BENCH_r11.json"):
        (tmp_path / name).write_text(json.dumps({"queries": {"q": 1.0}, "value": 1.0}))
    monkeypatch.setattr(
        sys, "argv",
        ["bench_diff", str(tmp_path / "BENCH_r10.json"), str(tmp_path / "BENCH_r11.json")],
    )
    assert bench_diff.main() == 0
    got = capsys.readouterr().out
    assert "WARNING" in got and "no-fingerprint: 1" in got


def test_adaptive_repeat_escalates_with_start_load():
    assert bench.adaptive_repeat(0.5, None) == 2
    assert bench.adaptive_repeat(4.01, None) == 3
    assert bench.adaptive_repeat(9.0, None) == 4
    # explicit env always wins, floor of 1
    assert bench.adaptive_repeat(12.0, "2") == 2
    assert bench.adaptive_repeat(0.0, "0") == 1


def test_prune_stamped_sidecars_keeps_newest(tmp_path):
    for i in range(25):
        (tmp_path / f"BENCH_PLAN_202608{i:02d}T000000_1.json").write_text("{}")
    (tmp_path / "BENCH_PLAN.json").write_text("{}")       # mutable default: kept
    (tmp_path / "BENCH_r11.plan.json").write_text("{}")   # stem sidecar: kept
    bench.prune_stamped_sidecars(str(tmp_path), keep=20)
    left = sorted(p.name for p in tmp_path.iterdir())
    stamped = [n for n in left if n.startswith("BENCH_PLAN_2")]
    assert len(stamped) == 20
    assert stamped[0] == "BENCH_PLAN_20260805T000000_1.json"  # oldest 5 gone
    assert "BENCH_PLAN.json" in left and "BENCH_r11.plan.json" in left


def test_bench_diff_unwraps_driver_artifacts(tmp_path, capsys, monkeypatch):
    """The driver wraps bench output as {"n","rc",...,"parsed":{...}};
    bench_diff must consume that directly (VERDICT r11 #1), including
    the plan_file key riding inside "parsed"."""
    stamped = tmp_path / "benchplans" / "BENCH_PLAN_20990101T000000_9.json"
    stamped.parent.mkdir()
    bench.write_plan_sidecar({"q": {"stages": 5, "shuffle_bytes": 50}}, str(stamped), 0.0)
    wrapped = {
        "n": 1, "rc": 0, "cpus": 32, "sf": "0.1",
        "tail": "noise...",
        "parsed": {
            "metric": "total_query_wall_time", "value": 2.0,
            "queries": {"q": 2.0}, "loadavg_1m": 1.0,
            "plan_file": os.path.join("benchplans", stamped.name),
        },
    }
    old_f, new_f = tmp_path / "BENCH_r10.json", tmp_path / "BENCH_r11.json"
    old_f.write_text(json.dumps(wrapped))
    new_f.write_text(json.dumps({**wrapped, "parsed": {**wrapped["parsed"], "queries": {"q": 4.0}}}))
    assert bench_diff.main([str(old_f), str(new_f)]) == 0
    got = capsys.readouterr().out
    # same stamped sidecar on both sides is fine (not the mutable file)
    assert "steady: 0" in got and "HOST NOISE    q: wall 2.00x" in got


def test_bench_diff_unwraps_from_tail_when_parsed_missing():
    line = json.dumps({"metric": "t", "value": 1.0, "queries": {"a": 1.0}})
    payload = {"n": 1, "rc": 0, "tail": "WARN xyz\n" + line + "\n"}
    assert bench_diff.unwrap(payload)["queries"] == {"a": 1.0}
    # raw bench output passes through untouched
    raw = {"queries": {"b": 2.0}, "value": 2.0}
    assert bench_diff.unwrap(raw) is raw


def test_bench_diff_thr_flag_and_legacy_positional(tmp_path, capsys):
    """--thr is a flag; a bare float in the old 3rd positional slot is
    still honored (it used to shadow the sidecar paths, VERDICT r11)."""
    for name, wall in (("old.json", 1.0), ("new.json", 1.4)):
        (tmp_path / name).write_text(json.dumps({
            "queries": {"q": wall}, "value": wall,
            "plan": {"q": {"stages": 3, "shuffle_bytes": 10}},
        }))
    args = [str(tmp_path / "old.json"), str(tmp_path / "new.json")]
    assert bench_diff.main(args + ["--thr", "1.3"]) == 0
    assert "HOST NOISE" in capsys.readouterr().out
    assert bench_diff.main(args + ["1.3"]) == 0  # legacy positional
    assert "HOST NOISE" in capsys.readouterr().out
    assert bench_diff.main(args) == 0  # default 1.5 → steady
    assert "steady: 1" in capsys.readouterr().out


def test_bench_diff_git_fallback_recovers_round_sidecar(tmp_path, capsys):
    """A pre-r11 driver artifact (no plan_file, no stem sidecar) must
    resolve its fingerprints from the commit that recorded it — never
    from the CURRENT mutable BENCH_PLAN.json, which describes whatever
    ran last (the r10-vs-r11 judge workflow, VERDICT r11 #1)."""
    import subprocess

    repo = tmp_path / "repo"
    repo.mkdir()

    def git(*a):
        subprocess.run(["git", "-C", str(repo), *a], check=True,
                       capture_output=True,
                       env={**os.environ, "GIT_AUTHOR_NAME": "t",
                            "GIT_AUTHOR_EMAIL": "t@t", "GIT_COMMITTER_NAME": "t",
                            "GIT_COMMITTER_EMAIL": "t@t"})

    git("init", "-q")
    # round-10 commit: artifact + that round's frozen mutable sidecar
    (repo / "BENCH_r10.json").write_text(json.dumps(
        {"parsed": {"queries": {"q": 1.0}, "value": 1.0}}
    ))
    bench.write_plan_sidecar({"q": {"stages": 3, "shuffle_bytes": 100}},
                             str(repo / "BENCH_PLAN.json"), 0.0)
    git("add", "-A")
    git("commit", "-qm", "round 10")
    # later state: mutable sidecar now holds DIFFERENT (newer) plans
    bench.write_plan_sidecar({"q": {"stages": 30, "shuffle_bytes": 9999}},
                             str(repo / "BENCH_PLAN.json"), 0.0)
    plan, src, _ = bench_diff.load_plan(
        str(repo / "BENCH_r10.json"),
        json.loads((repo / "BENCH_r10.json").read_text()), None,
    )
    assert plan == {"q": {"stages": 3, "shuffle_bytes": 100}}
    assert src.startswith("git:")


def test_bench_diff_consumes_real_driver_artifacts():
    """End-to-end on the repo's own r10/r11 artifacts: no unwrapping,
    no positional gymnastics, and the r11 adjudication comes back —
    exactly 2 plan-changed queries, 0 no-fingerprint."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    old, new = os.path.join(root, "BENCH_r10.json"), os.path.join(root, "BENCH_r11.json")
    if not (os.path.isfile(old) and os.path.isfile(new)):
        pytest.skip("round artifacts not present")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert bench_diff.main([old, new]) == 0
    got = buf.getvalue()
    assert got.count("PLAN CHANGED") == 2
    assert "no-fingerprint: 0" in got
    assert "PLAN CHANGED  dedup_minhash_lsh" in got
    assert "PLAN CHANGED  multimodal_decode_meta" in got


def _run_diff(tmp_path, old_plan, new_plan, walls=(1.0, 1.0)):
    import io
    from contextlib import redirect_stdout

    for name, plan, wall in (
        ("BENCH_a.json", old_plan, walls[0]),
        ("BENCH_b.json", new_plan, walls[1]),
    ):
        (tmp_path / name).write_text(
            json.dumps({"queries": {"q": wall}, "value": wall})
        )
        bench.write_plan_sidecar(plan, str(tmp_path / (name[:-5] + ".plan.json")), 0.0)
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert bench_diff.main([str(tmp_path / "BENCH_a.json"),
                                str(tmp_path / "BENCH_b.json")]) == 0
    return buf.getvalue()


def test_bench_diff_plan_hash_is_authoritative(tmp_path):
    """With round-13+ hashes on both sides the hash decides: equal hash
    + big stage/shuffle movement → STAGE JITTER; different hash with
    identical stages/shuffle → PLAN CHANGED."""
    base = {"stages": 90, "shuffle_bytes": 3000, "plan_hash": "aaa111bbb222"}
    moved = {"stages": 96, "shuffle_bytes": 3500, "plan_hash": "aaa111bbb222"}
    got = _run_diff(tmp_path, {"q": base}, {"q": moved})
    assert "STAGE JITTER  q" in got and "plan-changed: 0" in got
    rehashed = dict(base, plan_hash="ccc333ddd444")
    got = _run_diff(tmp_path, {"q": base}, {"q": rehashed})
    assert "PLAN CHANGED  q" in got and "hash aaa111bbb222→ccc333ddd444" in got


def test_bench_diff_legacy_shuffle_decides(tmp_path):
    """Pre-r13 sidecars (no plan_hash): a stage-count move with steady
    shuffle bytes is AQE jitter, not a plan change; a shuffle-bytes
    move is a plan change even with stages inside tolerance."""
    got = _run_diff(
        tmp_path,
        {"q": {"stages": 96, "shuffle_bytes": 3245}},
        {"q": {"stages": 90, "shuffle_bytes": 3186}},  # the r12 flt_dsl case
    )
    assert "STAGE JITTER  q" in got and "plan-changed: 0" in got
    got = _run_diff(
        tmp_path,
        {"q": {"stages": 76, "shuffle_bytes": 344523}},
        {"q": {"stages": 74, "shuffle_bytes": 372367}},  # r12 embed_neardup
    )
    assert "PLAN CHANGED  q" in got and "stage-jitter: 0" in got


def test_bench_diff_real_artifacts_r11_r12():
    """The r12 adjudication that motivated the structure signal: the
    two cert-cap queries are real plan changes, flt_dsl_suite is AQE
    stage jitter (VERDICT r12 #1 'done' criterion)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    old, new = os.path.join(root, "BENCH_r11.json"), os.path.join(root, "BENCH_r12.json")
    if not (os.path.isfile(old) and os.path.isfile(new)):
        pytest.skip("round artifacts not present")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert bench_diff.main([old, new]) == 0
    got = buf.getvalue()
    assert got.count("PLAN CHANGED") == 2
    assert "PLAN CHANGED  dedup_minhash_certified" in got
    assert "PLAN CHANGED  embed_neardup_pairs" in got
    assert "STAGE JITTER  flt_dsl_suite" in got
    assert "no-fingerprint: 0" in got


def test_git_fallback_skips_dirty_artifact(tmp_path, capsys):
    """A regenerated-but-uncommitted artifact must NOT be attributed
    the committed sidecar's fingerprints (ADVICE r12): fall through to
    no-fingerprint with a warning."""
    import subprocess

    repo = tmp_path / "repo"
    repo.mkdir()

    def git(*a):
        subprocess.run(["git", "-C", str(repo), *a], check=True,
                       capture_output=True,
                       env={**os.environ, "GIT_AUTHOR_NAME": "t",
                            "GIT_AUTHOR_EMAIL": "t@t", "GIT_COMMITTER_NAME": "t",
                            "GIT_COMMITTER_EMAIL": "t@t"})

    git("init", "-q")
    (repo / "BENCH_r10.json").write_text(json.dumps(
        {"parsed": {"queries": {"q": 1.0}, "value": 1.0}}
    ))
    bench.write_plan_sidecar({"q": {"stages": 3, "shuffle_bytes": 100}},
                             str(repo / "BENCH_PLAN.json"), 0.0)
    git("add", "-A")
    git("commit", "-qm", "round 10")
    # regenerate the artifact WITHOUT committing: different numbers
    (repo / "BENCH_r10.json").write_text(json.dumps(
        {"parsed": {"queries": {"q": 9.0}, "value": 9.0}}
    ))
    plan, src = bench_diff._git_plan_fallback(str(repo / "BENCH_r10.json"))
    assert (plan, src) == ({}, None)
    assert "dirty" in capsys.readouterr().out
