"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect of large results). Run: python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from duva_spark.queries import load_all  # noqa: E402
from duva_spark.session import get_spark  # noqa: E402


# The previous round's HEAD: the reference point for like-for-like
# bench comparison (r4 verdict item 4 — cross-round ratios previously
# leaned on BASELINE.md's ±30% host-variance note; replaying the old
# HEAD in the SAME session removes the host from the comparison).
# r9: bumped from 7669d30 (r7) to the r8 code HEAD.
# r10: bumped to the r9 code HEAD.
# r11: bumped to the r10 code HEAD.
# r12: bumped to the r11 code HEAD.
# r13: bumped to the r12 final HEAD (code identical to 3ddfd6b).
# r14: bumped to the r13 code HEAD.
_REF_COMMIT = "57a1964"

# The round-1 10-query headline set: the driver's self-baseline
# (BASELINE.md, 10.639 s at sf0.1). Its subtotal is emitted as its own
# field so the cross-round vs-baseline ratio never needs recomputing
# by hand from the per-query map (r7 verdict item 7).
_R1_SUBSET = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q10_returned_items",
    "q_embed_cosine_topk",
    "q_join_asof",
    "q_minhash_lsh_pairs",
    "q_stream_sessions",
    "q_stream_tumbling",
)


def _replay_reference(sf_dir: str) -> tuple[dict | None, str | None]:
    """Run the reference-HEAD bench in a gitignored worktree as a
    subprocess (its own JVM, same host, same session) and return
    ``(parsed JSON line, None)``. Self-healing: creates the worktree on
    first use. A failed replay returns ``(None, reason)`` rather than
    failing the bench; the reason lands in the JSON line."""
    import subprocess

    repo = Path(__file__).resolve().parent
    ref_dir = repo / ".bench_ref"
    try:
        if not (ref_dir / "bench.py").exists():
            subprocess.run(
                ["git", "worktree", "add", "--detach", str(ref_dir), _REF_COMMIT],
                cwd=repo, check=True, capture_output=True, text=True, timeout=120,
            )
        else:
            # an existing worktree may be pinned to a PREVIOUS round's
            # ref commit — verify and re-checkout on mismatch, or the
            # JSON would label stale timings with the new commit id
            head = subprocess.run(
                ["git", "rev-parse", "HEAD"],
                cwd=ref_dir, check=True, capture_output=True, text=True, timeout=60,
            ).stdout.strip()
            want = subprocess.run(
                ["git", "rev-parse", _REF_COMMIT],
                cwd=repo, check=True, capture_output=True, text=True, timeout=60,
            ).stdout.strip()
            if head != want:
                # --force: a dirty worktree (e.g. a detail file the
                # child bench left behind) must not block the replay
                subprocess.run(
                    ["git", "checkout", "--detach", "--force", _REF_COMMIT],
                    cwd=ref_dir, check=True, capture_output=True, text=True, timeout=120,
                )
        # SAME estimator as the primary run (min-of-N with the same N —
        # a min-of-1 reference vs a min-of-2 primary systematically
        # favors the primary), but behind a tight timeout: the replay
        # is a secondary comparison and must never push the whole bench
        # past the driver's budget (a kill before the JSON line prints
        # would lose the round's primary numbers too)
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=sf_dir,
            SPARK_GRAFT_NO_REF="1",
        )
        out = subprocess.run(
            [sys.executable, "bench.py"],
            cwd=ref_dir, env=env, capture_output=True, text=True, timeout=900,
        )
        for line in reversed(out.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line), None
    except subprocess.CalledProcessError as e:
        return None, f"{e} {e.stderr.strip()[-200:]}"
    except (subprocess.TimeoutExpired, OSError, ValueError) as e:  # ValueError: bad JSON
        return None, f"{type(e).__name__}: {e}"
    tail = out.stderr.strip().splitlines()[-1:] or [""]
    return None, f"no JSON line from the replay (exit {out.returncode}): {tail[0][:200]}"


def _attach_ref(payload: dict, detail: dict, timings: dict, sf_dir: str) -> None:
    """Add the same-session reference replay to `payload` as a ``ref``
    block, or the reason it is missing as ``ref_skipped``."""
    ref, reason = _replay_reference(sf_dir)
    if ref is None:
        payload["ref_skipped"] = reason
        return
    shared = {k: v for k, v in ref.get("queries", {}).items() if k in timings}
    this_shared = round(sum(timings[k] for k in shared), 3)
    ref_shared = round(sum(shared.values()), 3)
    payload["ref"] = {
        "head": _REF_COMMIT,
        "shared_total_sec": ref_shared,
        "this_shared_total_sec": this_shared,
        "ratio": round(this_shared / ref_shared, 3) if ref_shared else None,
    }
    detail["ref_queries"] = ref.get("queries", {})
    detail["ref_shared_queries"] = shared
    detail["ref_total_sec"] = ref.get("value")
    detail["ref_note"] = (
        f"{_REF_COMMIT} (previous round HEAD) replayed same-session, "
        "own JVM, parent stopped first; like-for-like shared-set ratio"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("duva_spark_bench")

    registry = load_all()
    headline = {name: q for name, q in registry.items() if q.headline}

    # Warm the JVM + parquet footers once with the flagship query so
    # per-query numbers measure execution, not first-touch JIT.
    registry["q01_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Two timed runs per query, report the min: the host shows ±30%
    # run-to-run interference (documented in BASELINE.md), and min-of-2
    # is the standard estimator of steady-state runtime under external
    # noise. Both samples are emitted for transparency.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    samples: dict[str, list[float]] = {name: [] for name in headline}
    for _ in range(runs):
        for name, q in sorted(headline.items()):
            spark.catalog.clearCache()  # no cross-query cache flattery
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.perf_counter() - t0, 3))

    timings = {name: min(ts) for name, ts in samples.items()}
    total = round(sum(timings.values()), 3)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 0))
    # Key order is load-bearing (r10 verdict item 1): the driver's
    # archive keeps only a bounded TAIL of stdout, and its parse buffer
    # is bounded too — r10's line grew past it ("parsed": null in
    # BENCH_r10). So (a) the big per-query map goes FIRST and every
    # summary scalar goes LAST (a front-truncated tail still shows the
    # scalars), (b) the replay per-query map moves to stderr/detail file
    # (r9 item 2 is served by bench_detail_last.json, committed by the
    # builder per-round), and (c) a hard length guard shrinks the map to
    # the r1 subset if the line would exceed the known-safe budget.
    payload = {
        "queries": timings,
        "method": f"min of {runs} runs per query (host noise mitigation)",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # what actually ran, read before the replay stops the session
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "metric": "headline_queries_total_runtime",
        "unit": "sec",
        "r1_subset_sec": round(
            sum(timings[k] for k in _R1_SUBSET if k in timings), 3
        ),
        "value": total,
    }
    detail: dict = {"samples": samples, "queries": timings}
    if os.environ.get("SPARK_GRAFT_NO_REF"):
        payload["ref_skipped"] = "SPARK_GRAFT_NO_REF is set"
    else:
        # stop our own JVM first: the replay must not run under memory/
        # CPU contention from the parent's resident executors, or the
        # "like-for-like" ratio is biased toward the new HEAD
        spark.stop()
        _attach_ref(payload, detail, timings, sf_dir)
    # move "ref" before the summary scalars so truncation keeps them last
    for k in ("r1_subset_sec", "value"):
        payload[k] = payload.pop(k)
    line = json.dumps(payload)
    if len(line) > 1900:  # r9's ~2.6k line parsed, r10's ~4.1k did not
        payload["queries"] = {
            k: v for k, v in timings.items() if k in _R1_SUBSET
        }
        payload["queries_note"] = "full map in bench_detail_last.json"
        # keep the summary scalars LAST even after adding the note
        for k in ("r1_subset_sec", "value"):
            payload[k] = payload.pop(k)
        line = json.dumps(payload)
    if len(line) > 1900:
        # Still over budget after the r1-subset shrink (r11 ADVICE: ref
        # block or r1-key growth could reproduce the bounded-parse
        # failure) — drop the per-query map entirely; scalars + note
        # alone always fit.
        payload.pop("queries", None)
        payload["queries_note"] = "dropped (line budget); full map in bench_detail_last.json"
        for k in ("r1_subset_sec", "value"):
            payload[k] = payload.pop(k)
        line = json.dumps(payload)
    print("BENCH_DETAIL " + json.dumps(detail), file=sys.stderr)
    try:
        root = Path(__file__).resolve().parent
        blob = json.dumps({"payload": payload, "detail": detail}, indent=1)
        root.joinpath("bench_detail_last.json").write_text(blob)
        # r13 (r12 verdict "what's wrong" #5): bench_detail_last.json is
        # overwritten by every run, so the driver's second (low-core) run
        # clobbers the primary run's per-query replay map. Also write a
        # per-run file keyed by core count + a timestamp-free counter so
        # every run of a round stays auditable.
        n = 0
        while root.joinpath(f"bench_detail_c{cpus}_{n}.json").exists():
            n += 1
        root.joinpath(f"bench_detail_c{cpus}_{n}.json").write_text(blob)
    except OSError as e:
        print(f"bench: detail file not written: {e}", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
