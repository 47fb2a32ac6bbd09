"""Mechanical bench adjudicator: separate "plan changed" from "host
loaded" between two bench JSONs (r3 and r8 both burned a judge
round-trip on exactly this question).

Usage: python tools/bench_diff.py OLD.json NEW.json [--thr 1.5] \
           [OLD_PLAN NEW_PLAN]

Inputs may be either raw bench.py output lines saved as JSON or the
driver's per-round artifacts (``BENCH_r{N}.json``), which wrap the
payload as ``{"n", "rc", ..., "parsed": {...}}`` with the raw stdout
tail in ``"tail"`` — both are unwrapped automatically (VERDICT r11:
the tool previously failed on exactly the two files it exists to
compare).

For every query present in both files it compares the deterministic
plan fingerprint ({stages, shuffle_bytes, plan_hash} measured at the
warmup SF) and the wall time, then buckets:

- PLAN CHANGED    the plan genuinely differs → the wall delta is (at
                  least partly) a real plan change; look at the code.
                  With ``plan_hash`` (round 13+: a canonicalized
                  operator-tree hash — see telemetry.canonical_plan_
                  structure) present on both sides this is authoritative;
                  for older sidecars the SHUFFLE BYTES decide (sharp
                  signal: <0.1% drift on an unchanged tree).
- STAGE JITTER    structure steady (hash equal, or shuffle bytes within
                  tolerance) but the stage COUNT wobbled past ±5 — AQE
                  stage-reuse nondeterminism, not a code change
                  (VERDICT r12: flt_dsl_suite 96→90 with no code delta).
- HOST NOISE      fingerprint identical but wall moved ≥ the ratio
                  threshold → don't chase it; re-measure on a quiet
                  host (loadavg is printed for both runs).
- steady          fingerprint identical, wall within threshold.

Tolerances: ±5 stages (observed cross-session AQE wobble reaches ±4;
the count only corroborates) and 2% + 64 shuffle bytes (compression /
row-order drift).  Fingerprints are only present from round 9 on,
plan_hash from round 13 on; queries without a fingerprint in either
file are listed separately.

Fingerprint resolution order per input: explicit sidecar arg >
inline ``"plan"`` key (rounds ≤9) > the artifact's own immutable
sidecar named by its ``plan_file`` key (round 11+; resolved against
the artifact's directory, then ``benchplans/``) > ``<stem>.plan.json``
> ``benchplans/BENCH_PLAN.json`` / ``BENCH_PLAN.json`` next to the
artifact > ``git show <last-commit-touching-artifact>:BENCH_PLAN.json``
(pre-r11 driver artifacts: the round commit that recorded the artifact
also froze that run's mutable sidecar).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

_BENCH_LINE = re.compile(r'\{"metric".*\}')


def unwrap(payload: dict) -> dict:
    """Driver artifact → the bench.py output dict it wraps.

    Accepts raw bench output (has "queries") verbatim; unwraps the
    driver's {"parsed": {...}} key; as a last resort extracts the final
    {"metric"...} JSON line from the captured stdout "tail"."""
    if "queries" in payload:
        return payload
    parsed = payload.get("parsed")
    if isinstance(parsed, dict) and "queries" in parsed:
        # keep wrapper keys visible (plan_file may ride either level)
        return {**{k: v for k, v in payload.items() if k != "parsed"}, **parsed}
    tail = payload.get("tail")
    if isinstance(tail, str):
        hits = _BENCH_LINE.findall(tail)
        for hit in reversed(hits):
            try:
                cand = json.loads(hit)
            except ValueError:
                continue
            if "queries" in cand:
                return cand
    return payload


def _git_plan_fallback(bench_path: str) -> tuple[dict, str | None]:
    """Recover the sidecar frozen alongside a driver artifact: the
    round commit that last touched BENCH_r{N}.json also committed that
    run's BENCH_PLAN.json, so `git show <commit>:BENCH_PLAN.json` is
    that round's fingerprints (judge workflow, VERDICT r11)."""
    here = os.path.dirname(os.path.abspath(bench_path)) or "."
    rel = os.path.basename(bench_path)
    try:
        dirty = subprocess.run(
            ["git", "-C", here, "status", "--porcelain", "--", rel],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if dirty:
            # the artifact was regenerated after its last commit: the
            # frozen BENCH_PLAN.json describes the COMMITTED run, not
            # the numbers on disk — attributing it would silently
            # mislabel plan changes as steady (ADVICE r12)
            print(
                f"# WARNING: {rel} is dirty relative to its last commit; "
                f"skipping the git sidecar fallback (fingerprints would "
                f"describe the committed run, not this one)."
            )
            return {}, None
        commit = subprocess.run(
            ["git", "-C", here, "log", "-n", "1", "--format=%H", "--", rel],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if not commit:
            return {}, None
        shown = subprocess.run(
            ["git", "-C", here, "show", f"{commit}:BENCH_PLAN.json"],
            capture_output=True, text=True, timeout=30,
        )
        if shown.returncode != 0:
            return {}, None
        return json.loads(shown.stdout).get("plan", {}), f"git:{commit[:12]}:BENCH_PLAN.json"
    except Exception:  # noqa: BLE001 — fallback must never sink the diff
        return {}, None


def load_plan(
    bench_path: str, bench: dict, explicit: str | None
) -> tuple[dict, str | None, dict]:
    """Resolve a bench file's plan fingerprints → (plan, source_path,
    query_load).

    source_path is None for inline plans (they cannot collide) and
    lets main() detect the case where BOTH runs fall back to the one
    MUTABLE BENCH_PLAN.json — which bench.py overwrites every run, so
    identical-path resolution means the fingerprints describe only the
    newer run.  query_load (round 14+ sidecars) is the per-query 1-min
    loadavg sampled right after each query's timing repeats — {} for
    older sidecars."""

    def payload(d: dict, src: str | None) -> tuple[dict, str | None, dict]:
        return d.get("plan", {}), src, d.get("query_load", {})

    if explicit:
        return payload(json.load(open(explicit)), os.path.realpath(explicit))
    if "plan" in bench:
        return payload(bench, None)
    here = os.path.dirname(bench_path) or "."
    stem, _ = os.path.splitext(bench_path)
    cands = []
    if bench.get("plan_file"):
        pf = bench["plan_file"]
        cands += [
            os.path.join(here, pf),
            os.path.join(here, "benchplans", os.path.basename(pf)),
            os.path.join(here, os.path.basename(pf)),
        ]
    cands.append(stem + ".plan.json")

    def read(cands: list[str]) -> tuple[dict, str | None, dict] | None:
        for cand in cands:
            if os.path.isfile(cand):
                try:
                    return payload(json.load(open(cand)), os.path.realpath(cand))
                except Exception:  # noqa: BLE001 — corrupt sidecar ⇒ none
                    return {}, None, {}
        return None

    got = read(cands)
    if got is not None:
        return got
    # no per-run sidecar (pre-r11 artifact): the commit that recorded
    # the artifact froze that round's BENCH_PLAN.json — strictly more
    # trustworthy than the CURRENT mutable sidecar, which describes
    # whatever ran last, not this artifact's run
    plan, src = _git_plan_fallback(bench_path)
    if src is not None:
        return plan, src, {}
    got = read([
        os.path.join(here, "benchplans", "BENCH_PLAN.json"),
        os.path.join(here, "BENCH_PLAN.json"),
    ])
    return got if got is not None else ({}, None, {})


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    ap = argparse.ArgumentParser(
        description="bucket per-query bench deltas as plan-changed / "
        "host-noise / steady", add_help=True,
    )
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("old_plan", nargs="?", default=None)
    ap.add_argument("new_plan", nargs="?", default=None)
    ap.add_argument("--thr", type=float, default=1.5,
                    help="wall-ratio threshold for the noise bucket")
    args = ap.parse_args(argv)
    # pre-r12 compat: a bare float used to ride the 3rd positional
    if args.old_plan is not None and not os.path.exists(args.old_plan):
        try:
            args.thr = float(args.old_plan)
            args.old_plan, args.new_plan = args.new_plan, None
        except ValueError:
            pass
    old = unwrap(json.load(open(args.old)))
    new = unwrap(json.load(open(args.new)))
    thr = args.thr
    po, src_o, lo = load_plan(args.old, old, args.old_plan)
    pn, src_n, ln = load_plan(args.new, new, args.new_plan)
    if src_o is not None and src_o == src_n and src_o.endswith("BENCH_PLAN.json"):
        # both runs fell back to the one MUTABLE sidecar, which holds
        # only the LAST run's fingerprints — comparing it to itself
        # would bucket every real plan change as "steady" (ADVICE r10)
        print(
            f"# WARNING: both runs resolve to the same mutable sidecar "
            f"{src_o}; fingerprints describe only the newer run — "
            f"bucketing everything as no-fingerprint. Pass explicit "
            f"sidecars (positional args 3/4) or use round-11+ "
            f"artifacts (plan_file key)."
        )
        po, pn = {}, {}
    qo, qn = old.get("queries", {}), new.get("queries", {})
    def label(plan: dict, src: str | None) -> str:
        if src is not None:
            return src
        return "inline" if plan else "none-found"

    print(
        f"# old: value={old.get('value')} loadavg={old.get('loadavg_1m')} "
        f"plans={label(po, src_o)} | "
        f"new: value={new.get('value')} loadavg={new.get('loadavg_1m')} "
        f"plans={label(pn, src_n)} (wall ratio threshold {thr}x)"
    )
    def same_shuffle(a: dict, b: dict) -> bool:
        # shuffle bytes are the sharp signal: <0.1% drift on an
        # unchanged tree, so 2% + 64 bytes absorbs compression and
        # row-order wobble while any real exchange change blows past it
        hi = max(a["shuffle_bytes"], b["shuffle_bytes"])
        return abs(a["shuffle_bytes"] - b["shuffle_bytes"]) <= 0.02 * hi + 64

    def same_stages(a: dict, b: dict) -> bool:
        # stage counts wobble with AQE stage reuse (±4 observed cross-
        # session), so they only corroborate — never decide alone
        return abs(a["stages"] - b["stages"]) <= 5

    def loadtag(q: str) -> str:
        # per-query 1-min loadavg (round-14+ sidecars): printed next to
        # every wall ratio so a contaminated sample explains itself
        a, b = lo.get(q), ln.get(q)
        if a is None and b is None:
            return ""
        fmt = lambda v: "?" if v is None else f"{v:g}"  # noqa: E731
        return f" | load {fmt(a)}→{fmt(b)}"

    changed, jitter, noise, steady, unknown = [], [], [], [], []
    for q in sorted(set(qo) & set(qn)):
        r = qn[q] / qo[q] if qo[q] else float("inf")
        if q not in po or q not in pn:
            unknown.append((q, r))
            continue
        a, b = po[q], pn[q]
        ha, hb = a.get("plan_hash"), b.get("plan_hash")
        if ha and hb:
            # round-13+ sidecars: the canonical operator-tree hash is
            # authoritative — stage counts and even shuffle bytes only
            # annotate
            structural = ha != hb
        else:
            # legacy sidecars: shuffle bytes decide; a stage-count move
            # with steady shuffle is AQE jitter, not a plan change
            structural = not same_shuffle(a, b)
        if structural:
            changed.append((q, r, a, b))
        elif not (same_stages(a, b) and same_shuffle(a, b)):
            jitter.append((q, r, a, b))
        elif r >= thr or r <= 1 / thr:
            noise.append((q, r))
        else:
            steady.append((q, r))
    for q, r, a, b in changed:
        sig = (
            f"hash {a['plan_hash']}→{b['plan_hash']} | "
            if a.get("plan_hash") and b.get("plan_hash")
            else ""
        )
        print(
            f"PLAN CHANGED  {q}: wall {r:.2f}x | {sig}stages "
            f"{a['stages']}→{b['stages']}"
            f" shuffle {a['shuffle_bytes']}→{b['shuffle_bytes']}"
            f"{loadtag(q)}"
        )
    for q, r, a, b in jitter:
        print(
            f"STAGE JITTER  {q}: wall {r:.2f}x | stages "
            f"{a['stages']}→{b['stages']} with structure steady "
            f"(shuffle {a['shuffle_bytes']}→{b['shuffle_bytes']}) — AQE "
            f"stage-reuse wobble, not a code change{loadtag(q)}"
        )
    for q, r in noise:
        print(f"HOST NOISE    {q}: wall {r:.2f}x, plan identical{loadtag(q)}")
    for q, r in unknown:
        print(f"no-fingerprint {q}: wall {r:.2f}x{loadtag(q)}")
    print(
        f"# steady: {len(steady)} | plan-changed: {len(changed)} | "
        f"stage-jitter: {len(jitter)} | "
        f"noise-suspect: {len(noise)} | no-fingerprint: {len(unknown)}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
