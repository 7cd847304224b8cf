"""Recurring density-stress leg (round 9; gate redesigned round 11):
time the density-sensitive query subset at the bench SF (sf0.1) AND
the stress SF (sf1.0 replica data from gen_stress_sf.py), and assert
each query's ABSOLUTE sf1.0 wall-time stays within its recorded
seconds budget (fresh > budget × ABS_RATIO AND fresh − budget >
ABS_SLACK — the bench_full_check rule).

Why this exists: the r8 one-off stress sweep caught the only real plan
defect of rounds 6-8 (grid NN density-quadratic candidate blowup) that
three rounds of sf0.1 benching never surfaced — fixed-geometry cell
methods are linear in rows but QUADRATIC in density, and only a
decade-up measurement exposes that term.  This script makes that
detection recurring instead of a one-off.

Why the gate moved from ratios to absolute stress seconds (r11,
measured): the sf1.0/sf0.1 ratio divides two measurements taken ~10
minutes apart, and on this host the sf0.1 DENOMINATORS swing ~2×
session-to-session (fixed job latency dominates second-scale queries:
q_bm25_batch base measured 3.9s / 9.9s / 14.0s across three otherwise
identical sessions), so recorded-ratio gates false-alarmed on
unchanged code (ratios drifted ×1.5-1.8).  The sf1.0 NUMERATORS are
compute-dominated and stable — every watched query within ±12% across
the same sessions — so the seconds budget carries the same
density-regression signal (the r8 defect was a ~25× stress-time
blowup) without the noisy division.  The per-session ratio is still
computed and printed as the scaling documentation, just not gated.

HOST-SPECIFICITY (r12, ADVICE): the budgets are absolute seconds
measured on THIS host (local[32], single-thread calibration norm in
BASELINE.json) — on any other machine they are meaningless until
re-recorded there.  ratio_info stays in the JSON as the
hardware-portable scaling documentation and sanity fallback.

Budgets live in scripts/stress_budgets.json as measured post-fix
sf1.0 seconds.  ``--record`` is guarded two ways (r12):
  * host-health preflight — a session whose calibration probe is out
    of band (bench.require_healthy_host) is REFUSED, because a budget
    recorded on a degraded host silently loosens every future gate by
    the host factor (r11's driver session ran 7× slow);
  * MAX-MERGE — recorded values merge with the committed file via
    max(), so one fast session can never silently tighten a budget
    that was deliberately set to the max over multiple clean sessions
    (the false-alarm class the r11 redesign fixed).  After an
    intentional plan change that makes a query faster, re-baseline
    with ``--record-reset`` — scoped to the named queries when names
    follow the flag (everything else still max-merges), full
    overwrite when bare.

Usage:
    python scripts/stress_check.py [--record | --record-reset [q ...]]
Env:
    STRESS_SF_DIR  (default /tmp/stress_sf1.0; generated on demand by
                    gen_stress_sf.py if absent)
    STRESS_MIDVOCAB_DIR (default /tmp/stress_midvocab; generated on
                    demand by gen_stress_midvocab.py if absent)
    STRESS_LONGDOC_DIR (default /tmp/stress_longdoc; generated on
                    demand by gen_stress_longdoc.py if absent)
    BENCH_SF_DIR   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

BENCH_SF = os.environ.get("BENCH_SF_DIR", "/root/testdata/sf0.1")
STRESS_SF = os.environ.get("STRESS_SF_DIR", "/tmp/stress_sf1.0")
MIDVOCAB_SF = os.environ.get("STRESS_MIDVOCAB_DIR", "/tmp/stress_midvocab")
LONGDOC_SF = os.environ.get("STRESS_LONGDOC_DIR", "/tmp/stress_longdoc")
HOTTOKEN_SF = os.environ.get("STRESS_HOTTOKEN_DIR", "/tmp/stress_hottoken")
BUDGETS_PATH = os.path.join(HERE, "stress_budgets.json")
ABS_RATIO = 2.0   # fresh stress-seconds vs budget — both must trip:
ABS_SLACK = 2.0   # ... and at least this many seconds over

# the density-sensitive set: fixed-geometry cell methods (quadratic in
# density without the refinement ladder), cell-bounded semantic pairs
# (result-bound — budget documents the honest output growth), and the
# gram shuffle (linear; budget pins it stays that way).  r11 adds the
# token-grain family (the r8 full sweep measured it at x5-9 for x10
# rows — linear-ish, but previously UNGATED: a super-linear regression
# in the gram/posting shuffles would have passed every committed gate)
WATCHED = [
    "q_grid_nearest",
    "q_grid_knn",
    "q_mutual_nn",
    "q_semdedup",
    "q_hard_negatives",
    "q_psm_match",
    "q_span_dedup",
    # token-grain (r11)
    "q_cdc_chunks",
    "q_bm25_batch",
    "q_dsir_weights",
    "q_tfidf_topk",
    "q_dup_ngrams",
    # exact-Jaccard small-vocab bitmask path (r11b: dedup-free
    # lowest-shared-prefix-bit generation — output-bound like
    # q_semdedup, and the sf1.0 replica must STAY on the bitmask path)
    "q_jaccard_prefix",
    # ANN / signature index family (r12, VERDICT item 4): 4 of the
    # top 6 in BENCH_FULL, and their cost class (interpreted-HOF
    # signature stages) was found by ad-hoc profiling in r11, not by a
    # gate — the sf1.0 budget makes that detection recurring the way
    # it already is for the grid family.  q_pq_topk times the PQ path
    # END-TO-END (codebook train + encode + ADC search).
    "q_minhash_neutral",
    "q_lsh_precision",
    "q_lsh_topk",
    "q_pq_topk",
    "q_ivf_topk",
    # composite end-to-end pipelines (r13, VERDICT item 2): the
    # queries a real user runs whole, where a regression in ANY
    # shared operator surfaces first.  q_phase3_pipeline is the most
    # expensive and most variable headline query; none of the four
    # had a stress budget before this round.
    "q_phase3_pipeline",
    "q_training_prep",
    "q_corpus_release",
    "q_curation_funnel",
]

# VARIANT legs (r12, VERDICT item 3): same query, DIFFERENT stress
# corpus, keyed "<query>@<variant>" in the budgets file.  The sf1.0
# replica keeps q_jaccard_prefix on the small-vocab bitmask path
# (V = 310 <= 504); real corpora have V >> 504 and take the classic
# array path, which otherwise has no recorded stress time at all.
# The midvocab corpus (V ~ 5k Zipf, gen_stress_midvocab.py) pins it.
VARIANTS: dict[str, tuple[str, str, str]] = {
    # key -> (query name, sf_dir, generator script)
    "q_jaccard_prefix@midvocab": (
        "q_jaccard_prefix", MIDVOCAB_SF, "gen_stress_midvocab.py"),
    # long-record leg (r13): ~290 tokens/doc — the web-page shape,
    # where per-candidate verification is O(doc length) and the
    # suffix-histogram filter is worth 2-5x.  A regression that
    # silently disabled that filter costs little at midvocab (short
    # records, Mann et al.'s break-even regime) and would pass every
    # other committed gate.
    "q_jaccard_prefix@longdoc": (
        "q_jaccard_prefix", LONGDOC_SF, "gen_stress_longdoc.py"),
    # hot-token skew leg (r13): one planted token in 3,000 docs'
    # prefixes -> a 4.5M-meeting cell on a single join key.  Measured
    # adjudication (SCALE.md r13): the positional filter is blind to
    # it (all meetings at position (1,1)), the suffix-histogram filter
    # kills 57%, and the join does NOT need salting — at this SF the
    # statistics pick broadcast (parallelism from the probe side), and
    # with broadcast force-disabled AQE's skew-split SMJ runs the same
    # corpus just as fast.  The leg pins all of that staying true.
    "q_jaccard_prefix@hottoken": (
        "q_jaccard_prefix", HOTTOKEN_SF, "gen_stress_hottoken.py"),
}


def merge_budgets(old: dict[str, float], fresh: dict[str, float],
                  verbose: bool = True) -> dict[str, float]:
    """MAX-MERGE for --record (r12, ADVICE): per query keep
    max(committed, fresh), so a single fast session can never silently
    TIGHTEN a budget that was deliberately set to the max over
    multiple clean sessions.  New queries take their fresh value;
    re-baselining after an intentional speedup is --record-reset."""
    merged: dict[str, float] = {}
    for n, f in fresh.items():
        if n in old and old[n] >= f:
            merged[n] = old[n]
            if verbose:
                print(f"--record keeps committed budget for {n}: "
                      f"{old[n]}s >= fresh {f}s (max-merge; use "
                      f"--record-reset to re-baseline)")
        else:
            merged[n] = f
    return merged


def prior_for_merge(prior: dict, reset: bool,
                    reset_names: set[str]) -> tuple[dict, dict]:
    """Committed (budgets, ratios) that --record should merge against:
    untouched for a plain --record, emptied for a bare --record-reset,
    and with only the NAMED queries dropped for a scoped reset — so
    re-baselining one intentionally-sped-up query can't discard the
    other multi-session-max budgets."""
    budgets = dict(prior.get("stress_sec_budget", {}))
    ratios = dict(prior.get("ratio_info", {}))
    if not reset:
        # a plain --record NEVER drops committed entries (r12 ADVICE:
        # popping reset_names here let `--record q_foo` silently
        # re-baseline q_foo, bypassing the max-merge protection)
        return budgets, ratios
    if not reset_names:
        return {}, {}
    for n in reset_names:
        budgets.pop(n, None)
        ratios.pop(n, None)
    return budgets, ratios


def main() -> None:
    record = "--record" in sys.argv
    reset = "--record-reset" in sys.argv
    reset_names = {a for a in sys.argv[1:] if not a.startswith("--")}
    if reset_names and not reset:
        # r12 ADVICE: positional names only mean anything after
        # --record-reset; with --record (or bare) they'd silently be
        # ignored by the merge but still LOOK intentional — fail fast
        print(f"stress_check: positional query names "
              f"{sorted(reset_names)} require --record-reset "
              f"(--record always max-merges the full watched set)")
        sys.exit(2)
    if reset:
        unknown = reset_names - set(WATCHED) - set(VARIANTS)
        if unknown:
            print(f"stress_check: --record-reset names not watched: "
                  f"{sorted(unknown)}")
            sys.exit(2)
    if record or reset:
        import bench
        bench.require_healthy_host("stress_check --record")

    if not os.path.isdir(STRESS_SF):
        print(f"stress data missing; generating {STRESS_SF} ...",
              flush=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen_stress_sf.py"),
             STRESS_SF, "10", BENCH_SF], check=True)
    for _, sf_dir, gen in VARIANTS.values():
        if not os.path.isdir(sf_dir):
            print(f"variant data missing; generating {sf_dir} ...",
                  flush=True)
            subprocess.run(
                [sys.executable, os.path.join(HERE, gen), sf_dir],
                check=True)

    from big_data_bowl_spark.queries import QUERIES
    from big_data_bowl_spark.session import build_session
    from big_data_bowl_spark.sources.io import read_table

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session("stress_check", f"local[{cpus}]", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.mode("overwrite").format("noop").save()

    def time_at(sf_dir: str, names: list[str] | None = None,
                warm: tuple[str, ...] = ("events", "documents",
                                         "embeddings")) -> dict[str, float]:
        # warm the file index + parquet footers so timings measure
        # compute, not first-touch listing
        for t in warm:
            read_table(spark, sf_dir, t).limit(1).count()
        out: dict[str, float] = {}
        # two interleaved passes, min per query — same stall-window
        # discipline as bench.py
        for _ in range(2):
            for name in (names or WATCHED):
                t0 = time.perf_counter()
                force(QUERIES[name](spark, sf_dir))
                dt = time.perf_counter() - t0
                out[name] = min(out.get(name, dt), dt)
        return out

    # a SCOPED --record-reset times ONLY the named queries — the point
    # is re-baselining one intentionally-changed query, not spending a
    # full dual-SF sweep (and risking a noisy session's numbers) on
    # budgets that max-merge anyway
    scoped = reset and bool(reset_names)
    run_watched = ([n for n in WATCHED if n in reset_names]
                   if scoped else WATCHED)
    run_variants = ({k: v for k, v in VARIANTS.items()
                     if k in reset_names} if scoped else VARIANTS)
    base_names = sorted(set(run_watched)
                        | {v[0] for v in run_variants.values()})
    base = time_at(BENCH_SF, names=base_names) if base_names else {}
    stress = time_at(STRESS_SF, names=run_watched) if run_watched else {}
    # variant legs: one corpus per entry, query timed under its
    # variant key; the "base" for a variant is the same query at the
    # bench SF (informational only — different data, so the ratio
    # documents corpus shape, not scaling)
    for key, (qname, sf_dir, _) in run_variants.items():
        t = time_at(sf_dir, names=[qname], warm=("documents",))
        stress[key] = t[qname]
        base[key] = base[qname]
    gated = run_watched + sorted(run_variants)
    ratios = {n: round(stress[n] / max(base[n], 1e-9), 2)
              for n in gated}

    report = {
        "bench_sf_dir": BENCH_SF,
        "stress_sf_dir": STRESS_SF,
        "variants": {k: v[1] for k, v in VARIANTS.items()},
        "base_sec": {n: round(base[n], 3) for n in gated},
        "stress_sec": {n: round(stress[n], 3) for n in gated},
        "ratio": ratios,
    }
    print(json.dumps(report, indent=1, sort_keys=True))
    spark.stop()

    if record or reset:
        fresh = {n: round(stress[n], 3) for n in gated}
        prior: dict = {}
        if os.path.exists(BUDGETS_PATH):
            with open(BUDGETS_PATH) as fh:
                prior = json.load(fh)
        old_budgets, old_ratios = prior_for_merge(prior, reset,
                                                  reset_names)
        merged = merge_budgets(old_budgets, fresh)
        # ratio_info follows the session whose seconds were kept
        ratio_out = {n: (old_ratios.get(n, ratios[n])
                         if merged[n] != fresh[n] else ratios[n])
                     for n in gated}
        if scoped:
            # untouched committed entries pass through verbatim — a
            # scoped reset re-baselines the named queries only
            merged = {**old_budgets, **merged}
            ratio_out = {**old_ratios, **ratio_out}
        with open(BUDGETS_PATH, "w") as fh:
            json.dump({
                "_note": (
                    "absolute sf1.0 seconds measured on THIS host "
                    "(local[32]; calibration norm in BASELINE.json) — "
                    "meaningless elsewhere until re-recorded there; "
                    "ratio_info is the hardware-portable scaling doc. "
                    "--record max-merges with these values; "
                    "--record-reset overwrites."),
                "abs_ratio": ABS_RATIO, "abs_slack": ABS_SLACK,
                "stress_sec_budget": merged,
                "ratio_info": ratio_out},
                fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"recorded budgets -> {BUDGETS_PATH}")
        return

    with open(BUDGETS_PATH) as fh:
        recorded = json.load(fh)
    budgets = recorded["stress_sec_budget"]
    abs_ratio = float(recorded.get("abs_ratio", ABS_RATIO))
    abs_slack = float(recorded.get("abs_slack", ABS_SLACK))
    missing = [n for n in gated if n not in budgets]
    if missing:
        print(f"STRESS: no budget recorded for {missing} — run "
              f"`python scripts/stress_check.py --record` after "
              f"adding a query to WATCHED")
        sys.exit(1)
    # gate-side host discount (r12, the bench_full_check rule): the
    # budgets were recorded inside the healthy calibration band
    # (--record preflight); a gate run on a degraded host inflates
    # Python-bound queries by the host factor with no code change, so
    # the trip thresholds scale by it — loudly
    import bench
    calib = bench.calibrate()
    norm = bench.calibration_norm()
    hf = max(1.0, calib / norm) if norm else 1.0
    if hf > 1.05:
        print(f"stress_check: host degraded this session (calibration "
              f"{calib}s vs norm {norm}s) — trip thresholds scaled "
              f"x{hf:.2f}")
    bad = [(n, stress[n], budgets[n]) for n in gated
           if stress[n] > budgets[n] * abs_ratio * hf
           and stress[n] - budgets[n] > abs_slack * hf]
    if bad:
        for n, s, b in bad:
            print(f"STRESS REGRESSION {n}: sf1.0 {s:.1f}s > budget "
                  f"{b}s x {abs_ratio} (and +{abs_slack}s slack)")
        sys.exit(1)
    print("stress_check: all watched sf1.0 times within budget")


if __name__ == "__main__":
    main()
