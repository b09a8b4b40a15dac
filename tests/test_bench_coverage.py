"""Bench-coverage gate: every headline entry must carry a committed
measurement. Round 6 shipped 13 headline queries that bench.py listed but
no committed BENCH_FULL measured — one of them hid a 49.9 s regression.
This test makes that impossible to repeat silently: adding a headline
entry turns the suite red until `python bench.py` has been re-run (it
rewrites BENCH_FULL.json, the "latest" sidecar, on every run)."""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_bench_full() -> str | None:
    """The gitignored BENCH_FULL.json when present (a local bench ran), else
    the NEWEST committed BENCH_FULL_r*.json by the run's own
    ``host.timestamp_start`` — not the filename number, which can lag when a
    driver round records nothing (the round-9 naming inversion put the
    newest run on the LOWEST number and turned this gate red on a fresh
    clone). Artifacts predating the host field sort as age 0."""
    path = os.path.join(REPO, "BENCH_FULL.json")
    if os.path.exists(path):
        return path

    def run_started(p: str) -> float:
        try:
            with open(p) as f:
                return float(json.load(f).get("host", {}).get("timestamp_start", 0.0))
        except (OSError, ValueError, json.JSONDecodeError):
            return 0.0

    committed = [
        p
        for p in glob.glob(os.path.join(REPO, "BENCH_FULL_r*.json"))
        if re.search(r"BENCH_FULL_r(\d+)\.json$", p)
    ]
    if committed:
        return max(committed, key=run_started)
    return None


def test_committed_bench_covers_every_headline_entry():
    import bench

    path = _latest_bench_full()
    assert path is not None, (
        "run `python bench.py` — no BENCH_FULL.json and no committed "
        "BENCH_FULL_r*.json"
    )
    with open(path) as f:
        payload = json.load(f)
    missing = [n for n in bench.HEADLINE if n not in payload["queries"]]
    assert not missing, (
        f"{len(missing)} headline entries have no committed bench "
        f"measurement (re-run `python bench.py`): {missing}"
    )


def test_every_builder_is_reached():
    """A builder nothing runs is dead weight: each one must have an oracle
    (so ``test_oracle_parity`` runs it), sit in ``bench.HEADLINE``, or be
    named as a whole word by a test module or ``bench_scaling.py``."""
    import bench
    from aws_flight_data_pipeline_spark.plans.registry import BUILDER_SPECS, _ensure_loaded

    _ensure_loaded()
    callers = glob.glob(os.path.join(REPO, "tests", "*.py")) + [
        os.path.join(REPO, "bench_scaling.py")
    ]
    text = ""
    for p in callers:
        with open(p) as f:
            text += f.read() + "\n"
    unreached = sorted(
        name
        for name, spec in BUILDER_SPECS.items()
        if spec.oracle is None
        and name not in bench.HEADLINE
        and not re.search(rf"\b{re.escape(name)}\b", text)
    )
    assert not unreached, f"builders that no oracle, headline entry or caller reaches: {unreached}"


def test_bench_records_host_environment():
    # drift attribution (round-6 lesson): the sidecar must carry when it
    # ran and the host load, or cross-round comparisons are guesswork
    path = _latest_bench_full()
    if path is None:
        return
    with open(path) as f:
        payload = json.load(f)
    # older committed sidecars predate the field; the gate applies once a
    # new bench run has produced one
    if "host" in payload:
        assert "loadavg_start" in payload["host"]
        assert "timestamp_start" in payload["host"]


def test_scaled_embeddings_reflection_separates_copies(spark, tmp_path):
    """ADVICE r12: the scale sweep's embedding copies must NOT be planted
    near-dups of the base corpus. The signed-permutation family gives
    (a) cross-copy cosines concentrated near zero — mean |cos| well under
    tau, planted-near-dup tail under 1% (the old multiplicative
    perturbation put EVERY copy at cos ≥ 0.998, and ks ≡ 0 mod 13 at
    exactly 1.0; an irreducible ~0.4% tail remains at dim 64 because any
    orthogonal mixing has sd ≈ 1/√dim on this corpus) — and (b)
    within-copy dot products preserved BIT-EXACTLY, so each copy
    replicates the base corpus's own near-dup structure. k = 13 and 26,
    the old family's degenerate ks, are inside the tested range."""
    import numpy as np
    import pyarrow.parquet as pq

    import bench_scaling as bs

    out = str(tmp_path / "x27")
    os.makedirs(out, exist_ok=True)
    bs._ensure_scaled_embeddings(spark, 27, out)
    t = pq.read_table(os.path.join(out, "embeddings.parquet")).to_pandas()
    t["k"] = t["vec_id"] // 10_000_000
    t["base_id"] = t["vec_id"] % 10_000_000
    base = {
        r.base_id: np.asarray(r.embedding, dtype=np.float64)
        for r in t[t.k == 0].itertuples()
    }
    tau = 0.35  # the SemDeDup near-dup threshold (_SEMDEDUP_TAU_E6 / 1e6)
    cosines = []
    for r in t[t.k > 0].itertuples():
        v = np.asarray(r.embedding, dtype=np.float64)
        b = base[r.base_id]
        nb, nv = np.linalg.norm(b), np.linalg.norm(v)
        if nb == 0 or nv == 0:
            continue
        cosines.append(abs(float(b @ v)) / (nb * nv))
    cosines = np.asarray(cosines)
    assert cosines.mean() < 0.2, f"copies aligned with base: mean {cosines.mean():.3f}"
    assert (cosines > tau).mean() < 0.01, (
        f"planted near-dup tail too fat: {(cosines > tau).mean():.4f}"
    )
    assert cosines.max() < 0.999, "an exact-scalar-multiple copy survived"

    # within-copy structure: the per-dimension PRODUCTS of any two vectors
    # inside copy 13 (a degenerate k under the old family) equal copy 0's
    # bit-exactly as a multiset — a signed permutation reorders dims and
    # flips both factors' signs together, so each product is preserved
    # exactly; only float summation ORDER differs, which is why the
    # comparison is on sorted products, not on the rounded dot
    ids = sorted(base)[:20]
    c13 = {
        r.base_id: np.asarray(r.embedding, dtype=np.float64)
        for r in t[t.k == 13].itertuples()
        if r.base_id in set(ids)
    }
    for i in ids:
        for j in ids:
            assert np.array_equal(
                np.sort(base[i] * base[j]), np.sort(c13[i] * c13[j])
            )
