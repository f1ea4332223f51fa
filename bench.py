"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE compact FINAL JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "queries_run1": {...}, "value_run1": ..., "runs": [...], "sf": ...}

The round-8 self-attribution telemetry (``runs_detail``: per-repeat query
times, wall/offset, pre/post /proc/loadavg + MemAvailable) is written to a
SIDECAR file (``BENCH_DETAIL.json`` next to this script, override with
$SPARK_GRAFT_BENCH_DETAIL) — NOT to the final stdout line. Round 8 learned
this the hard way: the driver captures only the last 2,000 characters of
stdout, and inlining runs_detail pushed the line to ~2.6k chars, truncating
its HEAD (the frozen ``value``/``queries`` channel) and leaving the driver
with ``parsed: null``. If the sidecar write fails, the detail is printed as
an EARLIER stdout line (safe to truncate); the final line stays compact
(< MAX_FINAL_LINE chars, contract-tested in tests/test_bench_contract.py).

Headliners cover each engine pillar: columnar agg (q1), multi-join (q5),
window top-k (topk_per_group), exact kNN (knn_exact_cosine), BM25, hybrid
fusion, MinHash-LSH dedup, n-gram Jaccard dedup, embedding near-dup,
sessionization, text quality scoring.

Round 12 adds a SECOND frozen suite (HEADLINE_V2, r11 verdict #2): one
representative per post-r4 family — storage compaction apply, footer-stats
pruned probe, incremental rollup merge + its retraction, SCD-2 merge,
incremental snapshot dedup, curriculum packing, incremental
decontamination — timed in the same repeat loop at the same SF and
reported on separate ``value_v2``/``queries_v2``/``runs_v2`` channels so
the legacy 14-query channels stay comparable back to r1. BASELINE.md
carries the v2 baseline row from its first green run (r12).

Measurement notes: each query is timed once per repeat after an sf0.001
warm pass and a pre-query System.gc() (hygiene documented inline).
Since round 11 ``value``/``queries`` ARE the per-query medians over
$SPARK_GRAFT_REPEATS total repeats (default 3) — the driver-facing number
is the defensible one on a ±20-30%-band host, closing the run-1-noise
adjudication loop for good (r10 verdict #3). Rounds 1-10 emitted run-1 as
``value``; that channel is preserved verbatim as ``value_run1``/
``queries_run1`` for cross-round comparability, and every raw per-repeat
total still lands in ``runs`` — the artifact carries its own noise bound. Every repeat starts cold
(``spark.catalog.clearCache()``) so entries that persist() intermediates
can't hand later repeats a warm cache, and a wall-clock budget
($SPARK_GRAFT_BENCH_BUDGET, default 600 s) skips remaining repeats rather
than risk an external timeout killing the one-JSON-line contract
(``len(runs)`` records how many completed). Rationale: run-to-run variance on the shared
test host is real — measured 20-30 s single-run totals for the identical
commit across one day (AQE re-plans at sf0.1 can trigger fresh
whole-stage-codegen inside the timed window, and JIT/host conditions
move); the median of 3 is the defensible per-round number. The query set
stays FROZEN.

Within-band record for the three queries that ran above their round-2
medians in round 4 (hybrid_search 1.84→2.50, topk_per_group 0.79→1.03,
knn_exact_cosine 0.70→0.90; all still ≤ their 1x baseline):
investigated in round 5 — the AQE-finalized executed plans are
bit-identical to the committed round-4 PLANS.md counts (hybrid_search
8 exchanges/5 broadcast/1 sort-merge; topk_per_group 1/1; knn_exact
1/1 — regenerated and diffed), and dedicated 5-run medians on the same
host session (topk 0.97 over runs 0.76-2.95, knn 0.91 over 0.69-1.41,
hybrid 2.46 over 2.07-3.15) put the r2 numbers INSIDE the observed
low-end spread. No plan or code regression exists; the deltas are host
band. Per-round medians to date (sf0.1):
  round:             r1    r2    r3    r4
  topk_per_group    1.57  0.79  0.79  1.03
  knn_exact_cosine  1.40  0.70  0.71  0.90
  hybrid_search     2.91  1.83  2.46  2.50
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from auto_vectordb_spark.plans.parity import REGISTRY  # noqa: E402
from auto_vectordb_spark.session import get_spark  # noqa: E402

# Hard ceiling on the FINAL stdout line: the driver tail-captures 2,000
# chars; leave margin for a trailing newline and any wrapper prefix.
MAX_FINAL_LINE = 1800

HEADLINE = [
    "q1_pricing_summary",
    "q5_nation_revenue",
    "topk_per_group",
    "events_sessionize",
    "knn_exact_cosine",
    "bm25_topk",
    "hybrid_search",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_embedding_blas",
    "knn_blas_topk",
    "text_quality",
    "hybrid_rrf",
    "training_set_build",
]

# Second suite (round 12, r11 verdict #2): the legacy 14 were frozen around
# r1-r4 and time <10% of the registry — nothing wall-clocked the engine's
# actual 100 TB story (storage maintenance, incremental state merges,
# lifecycle dedup, curation packing). One representative per modern family,
# same sf, same median convention, reported on SEPARATE channels
# (value_v2/queries_v2/runs_v2) so the legacy value/queries numbers stay
# comparable across every prior round. Baseline row recorded in BASELINE.md
# at the first green run (r12). This set is now frozen too.
HEADLINE_V2 = [
    "zorder_compaction_apply",
    "zorder_ranged_probe",
    "rollup_incremental",
    "rollup_incremental_retract",
    "scd2_incremental",
    "dedup_snapshot_incremental",
    "curation_curriculum_packs",
    "decontaminate_incremental",
]


def _host_telemetry() -> dict:
    """Host-condition snapshot (round-8 self-attribution).

    Two consecutive rounds of elevated driver bench with monotonic
    within-invocation degradation (r7: 28.1 -> 47.8 -> 76.9 s over three
    cold repeats of bit-identical plans) could only be attributed to host
    band via SEPARATE idle-host runs (SCALE.md). From round 8 the artifact
    carries its own evidence: /proc/loadavg and MemAvailable sampled
    around every repeat. If repeats degrade while load is flat and memory
    ample, the sf0.1 engine bisect applies; if load/memory move with the
    degradation, the signal is environmental and needs no engine work.
    """
    t: dict = {}
    try:
        with open("/proc/loadavg") as f:
            loadavg = [float(x) for x in f.read().split()[:3]]
        # all-or-nothing like mem_available_kb: a short list would
        # IndexError downstream consumers indexing [0..2] (ADVICE r8)
        if len(loadavg) == 3:
            t["loadavg"] = loadavg
    except (OSError, ValueError):
        pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    t["mem_available_kb"] = int(line.split()[1])
                    break
    except (OSError, ValueError, IndexError):
        pass
    return t


def _input_layout(sf_dir: str) -> dict:
    """Per-table physical-parallelism telemetry for the BENCH_DETAIL
    sidecar (r12 verdict #2): bytes and parquet ROW-GROUP count per input
    table. A single-row-group file scans as ONE task at any core count,
    so when every table reports row_groups=1 the ≈1 low/high-core
    per-query ratios are INPUT-capped — the evidence the driver's scaling
    heuristic needs instead of suspecting $SPARK_GRAFT_CPUS is ignored
    (session.py honors it; r12's suspect_cpus_ignored was a false alarm).
    Metadata-only (parquet footers), never a data scan."""
    import glob

    try:
        import pyarrow.parquet as pq
    except Exception:  # noqa: BLE001 — telemetry must never kill the bench
        return {}
    out: dict = {}
    for entry in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(entry).removesuffix(".parquet")
        try:
            files = (
                [entry]
                if os.path.isfile(entry)
                else sorted(glob.glob(os.path.join(entry, "*.parquet")))
            )
            out[name] = {
                "bytes": sum(os.path.getsize(f) for f in files),
                "files": len(files),
                "row_groups": sum(
                    pq.ParquetFile(f).metadata.num_row_groups for f in files
                ),
            }
        except Exception:  # noqa: BLE001
            out[name] = {"bytes": None, "files": None, "row_groups": None}
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="bench")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    layout = _input_layout(sf_dir)
    # Steady-state measurement: run every headline query once at the smallest
    # SF first so JVM/whole-stage-codegen compilation (several seconds,
    # one-time per plan shape) isn't charged to whichever query runs first.
    warm_dir = "/root/testdata/sf0.001"
    for name in [*HEADLINE, *HEADLINE_V2]:
        try:
            REGISTRY[name].spark(spark, warm_dir).count()
        except Exception:
            pass  # a failing query still gets timed (and fails) below
    # Steady-state hygiene: entries that persist() small intermediates leave
    # their warm-run caches behind; drop them so the measured runs don't pay
    # eviction/GC pressure for warm-phase leftovers.
    spark.catalog.clearCache()

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    # Wall-clock guard: never risk an external timeout killing the process
    # before the one-JSON-line contract is met. Repeat 1 always runs; later
    # repeats start only if the budget still has room for another repeat of
    # the same duration. Medians are computed over completed repeats.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "600"))
    t_bench0 = time.perf_counter()
    all_runs: list[dict[str, float]] = []
    all_runs_v2: list[dict[str, float]] = []
    runs_detail: list[dict] = []
    for _ in range(repeats):
        if all_runs:
            elapsed = time.perf_counter() - t_bench0
            # Estimate the next repeat from the FASTEST completed repeat,
            # not the last (r13): this host shows rare multi-x outlier
            # episodes (documented since r12 — e.g. 34.8/96.0/38.5 s
            # repeats of one tree); estimating from an outlier repeat
            # blocked exactly the recovery repeat that would have kept the
            # median sane (median of [26.8, 98.6] = 62.7 observed). For
            # genuinely slow trees min == last and behavior is unchanged.
            est = min(
                sum(r.values()) + sum(r2.values())
                for r, r2 in zip(all_runs, all_runs_v2)
            )
            if elapsed + 1.5 * est > budget:
                break
        # Repeats must be cold-cache: entries that persist() intermediates
        # (training_set_build's survivors table) would otherwise hand later
        # repeats a warm InMemoryRelation via CacheManager plan
        # substitution, making the medians incomparable to the frozen
        # run-1 methodology.
        spark.catalog.clearCache()
        pre_telemetry = _host_telemetry()
        t_run0 = time.perf_counter()
        timings: dict[str, float] = {}
        timings_v2: dict[str, float] = {}
        for name, sink in [
            *((n, timings) for n in HEADLINE),
            *((n, timings_v2) for n in HEADLINE_V2),
        ]:
            q = REGISTRY[name]
            # Standard JVM benchmark hygiene: collect the PREVIOUS query's
            # garbage outside this query's timed window, so a G1 pause
            # triggered by leftover allocation doesn't land mid-measurement
            # (observed as random 3-9 s spikes on otherwise ~2 s queries).
            # The PYTHON collect must come first (r12 measurement fix):
            # py4j releases a JVM DataFrame/RDD only after its Python proxy
            # is garbage-collected, so dead-but-uncollected proxies from
            # earlier queries keep their persisted/localCheckpointed blocks
            # alive across repeats — measured as monotonic per-repeat
            # degradation (e.g. training_set_build 4.3→9.0→9.9 s without
            # this line, 3.9→4.1→4.2 s with it; same tree, same host).
            # clearCache() alone cannot release blocks a live-looking proxy
            # still references. Timing methodology is otherwise unchanged.
            gc.collect()
            spark._jvm.System.gc()  # noqa: SLF001
            t0 = time.perf_counter()
            df = q.spark(spark, sf_dir)
            n = df.count() if df.isStreaming is False else -1
            sink[name] = round(time.perf_counter() - t0, 3)
            assert n >= 0, f"{name} returned no count"
        all_runs.append(timings)
        all_runs_v2.append(timings_v2)
        runs_detail.append(
            {
                "queries": timings,
                "queries_v2": timings_v2,
                "wall_sec": round(time.perf_counter() - t_run0, 3),
                "offset_sec": round(t_run0 - t_bench0, 3),
                "pre": pre_telemetry,
                "post": _host_telemetry(),
            }
        )
    compact = _compact_payload(all_runs, all_runs_v2, sf)
    detail = {
        "metric": "headline_suite_detail",
        "runs_detail": runs_detail,
        "sf": sf,
        # scale-out observability (r12 verdict #2): the core count the
        # session actually ran with and per-table bytes/file/row-group
        # counts of the inputs timed, so a scaling check can tell
        # input-capped parallelism from an ignored env var.
        "cpus": cpus,
        "input_layout": layout,
    }
    _emit(compact, detail)
    spark.stop()


def _compact_payload(
    all_runs: list[dict[str, float]],
    all_runs_v2: list[dict[str, float]],
    sf: float,
) -> dict:
    """The driver-facing shape — MEDIAN channel + run-1 telemetry, NO detail.

    Convention change (round 11, r10 verdict #3/next-round #5): ``value``/
    ``queries`` are now the per-query MEDIANS over completed repeats (the
    defensible number on a host whose per-rep band is ±20-30%), so a
    round-over-round delta inside the band never again needs a manual A/B
    adjudication. The r1-r10 run-1 semantics stay available verbatim as
    ``value_run1``/``queries_run1`` for comparability with BENCH_r01-r10
    (whose ``value`` was run-1); BASELINE.md documents both conventions.
    A/B children run with SPARK_GRAFT_REPEATS=1, where median == run-1, so
    --ab semantics are unchanged.

    Round 12 (r11 verdict #2): the modern-family suite rides SEPARATE
    channels — ``value_v2``/``queries_v2``/``runs_v2``, same median
    statistic — so the legacy channels stay frozen and cross-round
    comparable. ``value_convention`` stamps the semantics programmatically
    (r11 ADVICE #4).
    """
    medians = {
        name: round(statistics.median(r[name] for r in all_runs), 3) for name in HEADLINE
    }
    medians_v2 = {
        name: round(statistics.median(r[name] for r in all_runs_v2), 3)
        for name in HEADLINE_V2
    }
    return {
        "metric": "headline_suite_total",
        "value": round(sum(medians.values()), 3),
        "unit": "sec",
        "value_convention": "median",
        "queries": medians,
        "value_run1": round(sum(all_runs[0].values()), 3),
        "queries_run1": all_runs[0],
        "runs": [round(sum(r.values()), 3) for r in all_runs],
        "value_v2": round(sum(medians_v2.values()), 3),
        "queries_v2": medians_v2,
        "runs_v2": [round(sum(r.values()), 3) for r in all_runs_v2],
        "sf": sf,
    }


def _parse_bench_stdout(out: str) -> dict | None:
    """Last stdout line that is a JSON object with a ``value`` key — the
    frozen final-line contract every round's bench.py has kept since r1,
    which is what makes the A/B children parseable across round trees."""
    for line in reversed(out.strip().splitlines()):
        try:
            cand = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(cand, dict) and "value" in cand:
            return cand
    return None


def run_ab(ref: str) -> None:
    """Interleaved A/B adjudication vs a prior tree: ``bench.py --ab <ref>``.

    The shared host's per-rep band is ±20-30% (measured r7-r9), so a
    single driver run-1 number cannot distinguish a real regression from
    noise for deltas below ~25%. The r9 adjudication (r8-vs-r9 interleaved
    reps showing tree medians within ±5%) lived only in SCALE.md prose;
    this mode makes it an ARTIFACT. Method: check out ``ref`` into a
    scratch git worktree, then run the full headline suite alternately
    (ref, HEAD, HEAD, ref, ...) as sequential fresh subprocesses — each
    rep pays its own JVM start and warm pass, both trees sample the same
    host-condition window, and order alternates so a monotonic host drift
    cannot masquerade as a tree difference. Per-tree totals and medians
    land in BENCH_AB.json (a separate artifact — the driver's normal
    bench run truncate-writes BENCH_DETAIL.json every round and would
    clobber an A/B block stored there) and the final stdout line is the
    compact machine-readable verdict.

    Opt-in tooling only: the per-round driver invocation stays the plain
    zero-argument mode; run this when a round-over-round delta exceeds
    the band, and commit BENCH_AB.json as the adjudication evidence.
    """
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_AB_REPEATS", "3")))
    sha = subprocess.run(
        ["git", "-C", repo, "rev-parse", "--short", ref],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    wt = tempfile.mkdtemp(prefix="bench_ab_")
    subprocess.run(
        ["git", "-C", repo, "worktree", "add", "--force", "--detach", wt, ref],
        check=True, capture_output=True,
    )
    try:
        runs: dict[str, list[dict]] = {"ref": [], "head": []}
        schedule: list[tuple[str, str]] = []
        for i in range(reps):
            pair = [("ref", wt), ("head", repo)]
            schedule.extend(pair if i % 2 == 0 else pair[::-1])
        for label, tree in schedule:
            env = dict(
                os.environ,
                SPARK_GRAFT_REPEATS="1",
                # children must not clobber this repo's BENCH_DETAIL.json
                SPARK_GRAFT_BENCH_DETAIL=os.path.join(
                    tempfile.gettempdir(), "bench_ab_child_detail.json"
                ),
            )
            out = subprocess.run(
                [sys.executable, os.path.join(tree, "bench.py")],
                check=True, capture_output=True, text=True, env=env, cwd=tree,
            ).stdout
            payload = _parse_bench_stdout(out)
            if payload is None:  # not assert: must survive python -O
                raise RuntimeError(f"{label} rep emitted no bench line")
            runs[label].append(payload)
            print(
                json.dumps(
                    {"ab_rep": label, "total": payload["value"],
                     "telemetry": _host_telemetry()}
                )
            )
        med = {
            k: round(statistics.median(p["value"] for p in v), 3)
            for k, v in runs.items()
        }
        # v2 channel (r12): both suites ride every child bench line since
        # HEADLINE_V2 landed; adjudicate them too. .get() guards refs that
        # predate the v2 suite (their verdict simply omits the v2 keys).
        med_v2 = {
            k: round(statistics.median(p["value_v2"] for p in v), 3)
            for k, v in runs.items()
            if all(p.get("value_v2") is not None for p in v)
        }
        # per-rep totals capped in the STDOUT line so a many-rep overnight
        # run cannot outgrow the tail-capture budget after hours of work
        # (the full series always lives in BENCH_AB.json); the asserts are
        # explicit raises so `python -O` cannot strip the contract.
        cap = 24
        verdict = {
            "metric": "headline_suite_ab",
            "ref": sha,
            "reps": reps,
            "ref_runs": [p["value"] for p in runs["ref"]][:cap],
            "head_runs": [p["value"] for p in runs["head"]][:cap],
            "ref_median": med["ref"],
            "head_median": med["head"],
            "head_over_ref": round(med["head"] / med["ref"], 3) if med["ref"] else None,
            "sf": runs["head"][0].get("sf"),
        }
        # Both keys required (r12 ADVICE): a ref tree predating HEADLINE_V2
        # yields med_v2 == {"head": ...}, which is truthy — indexing "ref"
        # would KeyError after all reps ran and before BENCH_AB.json was
        # written, losing the whole A/B run.
        if "ref" in med_v2 and "head" in med_v2:
            verdict["ref_median_v2"] = med_v2["ref"]
            verdict["head_median_v2"] = med_v2["head"]
            verdict["head_over_ref_v2"] = (
                round(med_v2["head"] / med_v2["ref"], 3) if med_v2["ref"] else None
            )
        detail = {
            **verdict,
            "ref_runs": [p["value"] for p in runs["ref"]],
            "head_runs": [p["value"] for p in runs["head"]],
            "ref_queries": [p.get("queries") for p in runs["ref"]],
            "head_queries": [p.get("queries") for p in runs["head"]],
            "ref_runs_v2": [p.get("value_v2") for p in runs["ref"]],
            "head_runs_v2": [p.get("value_v2") for p in runs["head"]],
            "ref_queries_v2": [p.get("queries_v2") for p in runs["ref"]],
            "head_queries_v2": [p.get("queries_v2") for p in runs["head"]],
        }
        with open(os.path.join(repo, "BENCH_AB.json"), "w") as f:
            f.write(json.dumps(detail) + "\n")
        line = json.dumps(verdict)
        if len(line) > MAX_FINAL_LINE:
            raise RuntimeError(
                f"A/B verdict line {len(line)} chars exceeds capture budget"
            )
        print(line)
    finally:
        subprocess.run(
            ["git", "-C", repo, "worktree", "remove", "--force", wt],
            check=False, capture_output=True,
        )


def _emit(compact: dict, detail: dict) -> None:
    """Sidecar the telemetry; print the compact line LAST (tail-capture safe).

    The detail payload goes to BENCH_DETAIL.json (override with
    $SPARK_GRAFT_BENCH_DETAIL); if that write fails it is printed as an
    earlier stdout line, where truncation by the driver's 2,000-char tail
    window can only cost telemetry, never the frozen value/queries channel.
    """
    sidecar = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    detail_line = json.dumps(detail)
    try:
        with open(sidecar, "w") as f:
            f.write(detail_line + "\n")
    except OSError:
        print(detail_line)
    line = json.dumps(compact)
    assert len(line) <= MAX_FINAL_LINE, (
        f"final bench line {len(line)} chars exceeds driver capture budget"
    )
    print(line)


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--ab":
        # fail fast on a missing ref: falling through to main() would run
        # the full ~10-min suite and truncate-write BENCH_DETAIL.json —
        # the exact clobber --ab exists to avoid
        if len(sys.argv) < 3:
            print("usage: bench.py --ab <git-ref>", file=sys.stderr)
            sys.exit(2)
        run_ab(sys.argv[2])
    else:
        main()
