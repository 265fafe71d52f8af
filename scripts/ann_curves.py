"""Archive the two ANN evidence curves the r9 verdict asked for
(items 3 and 6) as a reproducible JSON artifact:

* ``pq_rerank_sweep`` — rerank depth vs latency vs recall@10 for the
  store-backed PQ index, so the ``rerank='auto'`` (16*k) production
  depth is an evidence-backed point on a measured curve rather than a
  constant: the r9 recall fix (0.38 -> 0.88) bought its +44% latency
  with exactly this knob, and the curve names the trade.
* ``ivf_probe_curve`` — recall@10 vs probe fraction for the IVF index,
  making the documented sf0.1 "information-limited plateau" claim
  reproducible (the curve flattens well below recall 1.0 while the
  scanned fraction keeps growing).

Usage:
    python scripts/ann_curves.py [sf_dir ...]   # default sf0.1 and .benchdata/sf0.5

Writes BENCH_ANN_CURVES.json at the repo root and prints it.
Reuses bench.py's cached stores/indexes under .benchdata/pqidx-<sf>
(built on demand), so the swept index is the exact artifact the bench
times.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402


def _topk_sets(rows, id_col):
    # stringify both sides: the store keys are vec_id CAST TO STRING
    # while brute-force returns the raw long (same rule as bench.py)
    out = {}
    for r in rows:
        out.setdefault(str(r["query_id"]), set()).add(str(r[id_col]))
    return out


def _recall(exact, approx):
    if not exact:
        return None
    return round(
        sum(len(exact[q] & approx.get(q, set())) for q in exact) / (10 * len(exact)), 4
    )


def sweep(spark, data_dir: str, depths, probes, n_runs: int = 3) -> dict:
    from bench import _bench_index_paths  # builds/reuses the cached index

    from dataingestionplayground_spark.ingest.ann_index import (
        _load_meta,
        ivf_search_indexed,
        pq_search_indexed,
    )
    from dataingestionplayground_spark.ingest.store import CollectionStore
    from dataingestionplayground_spark.operators.similarity import knn_brute_force
    from dataingestionplayground_spark.session import load_table

    # ensure the store + both indexes exist with the bench's config
    _bench_index_paths(spark, data_dir, {}, {})
    sf_name = os.path.basename(data_dir.rstrip("/"))
    store = CollectionStore(str(ROOT / ".benchdata" / f"pqidx-{sf_name}"))
    emb = load_table(spark, data_dir, "embeddings")
    n_corpus = emb.count()
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = _topk_sets(
        knn_brute_force(emb, q, k=10).filter(F.col("rank") <= 10).collect(), "vec_id"
    )

    pq_rows = []
    for depth in depths:
        kw = {"rerank": depth} if depth else {}
        samples = []
        pq_search_indexed(spark, store, "embeddings", q, k=10, **kw).write.format(
            "noop"
        ).mode("overwrite").save()  # warm
        for _ in range(n_runs):
            t0 = time.perf_counter()
            pq_search_indexed(spark, store, "embeddings", q, k=10, **kw).write.format(
                "noop"
            ).mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        top = _topk_sets(
            pq_search_indexed(spark, store, "embeddings", q, k=10, **kw).collect(),
            "key",
        )
        samples.sort()
        pq_rows.append(
            {
                "rerank_depth": depth,
                "recall_at_10": _recall(exact, top),
                "sec_min": round(samples[0], 3),
                "sec_median": round(samples[len(samples) // 2], 3),
            }
        )
        print(f"  pq {sf_name} depth={depth}: {pq_rows[-1]}", flush=True)

    meta = _load_meta(store, "embeddings", "ivf")
    n_cells = meta["n_cells"]
    ivf_rows = []
    for n_probe in probes:
        if n_probe > n_cells:
            continue
        samples = []
        ivf_search_indexed(
            spark, store, "embeddings", q, k=10, n_probe=n_probe
        ).write.format("noop").mode("overwrite").save()
        for _ in range(n_runs):
            t0 = time.perf_counter()
            ivf_search_indexed(
                spark, store, "embeddings", q, k=10, n_probe=n_probe
            ).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        top = _topk_sets(
            ivf_search_indexed(
                spark, store, "embeddings", q, k=10, n_probe=n_probe
            ).collect(),
            "key",
        )
        samples.sort()
        ivf_rows.append(
            {
                "n_probe": n_probe,
                "probe_fraction": round(n_probe / n_cells, 4),
                # r15: with soft assignment each probed cell holds
                # assign_top x rows, so the scanned-row fraction is the
                # honest cost axis (capped: a key scores once)
                "scanned_fraction": round(
                    min(1.0, meta.get("assign_top", 1) * n_probe / n_cells), 4
                ),
                "recall_at_10": _recall(exact, top),
                "sec_min": round(samples[0], 3),
                "sec_median": round(samples[len(samples) // 2], 3),
            }
        )
        print(f"  ivf {sf_name} n_probe={n_probe}: {ivf_rows[-1]}", flush=True)
    # --- soft-assignment A/B (r15 verdict item 3): assign_top=1 vs 2
    # at EQUAL n_probe isolates the recall-for-latency trade from host
    # noise, and the boundary-margin variants measure how much of the
    # 2x assignment-table growth the recall actually needs. Variant
    # indexes are built in place and the production index directory is
    # restored afterwards, so the bench's cached artifact is untouched.
    # Only at the sf0.1 block: the larger corpora hold recall 1.0 from
    # n_probe=1 (archived probe curves), so the boundary effect the
    # sweep isolates exists only at the small scale — and 5 variant
    # kmeans builds at sf1.0 would dominate the script's runtime.
    import shutil

    from dataingestionplayground_spark.ingest.ann_index import (
        build_ivf_index,
        read_ivf_assignments,
    )

    ivf_dir = os.path.join(store.base_path, "_indexes", "embeddings", "ivf")
    saved = ivf_dir + ".curves-saved"
    soft_rows = []
    eq_probe = 4
    if sf_name != "sf0.1":
        return {
            "sf": sf_name,
            "n_corpus": n_corpus,
            "k": 10,
            "n_queries": len(exact),
            "pq_rerank_sweep": pq_rows,
            "ivf_probe_curve": ivf_rows,
            "ivf_assign_top": meta.get("assign_top", 1),
            "production_points": {
                "pq_rerank": "auto=16*k=160",
                "ivf_n_probe": 4,
            },
        }
    try:
        shutil.move(ivf_dir, saved)
        for top, margin in (
            (1, None),
            (2, None),
            (2, 0.05),
            (2, 0.1),
            (2, 0.15),
            (2, 0.2),
        ):
            m = build_ivf_index(
                spark, store, "embeddings",
                n_cells=16, centroid_mode="kmeans",
                assign_top=top, assign_margin=margin,
            )
            n_rows = read_ivf_assignments(spark, store, "embeddings").count()
            n_keys = store.read(spark, "embeddings").count()
            samples = []
            ivf_search_indexed(
                spark, store, "embeddings", q, k=10, n_probe=eq_probe
            ).write.format("noop").mode("overwrite").save()
            for _ in range(n_runs):
                t0 = time.perf_counter()
                ivf_search_indexed(
                    spark, store, "embeddings", q, k=10, n_probe=eq_probe
                ).write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            top10 = _topk_sets(
                ivf_search_indexed(
                    spark, store, "embeddings", q, k=10, n_probe=eq_probe
                ).collect(),
                "key",
            )
            samples.sort()
            soft_rows.append(
                {
                    "assign_top": top,
                    "assign_margin": margin,
                    "n_probe": eq_probe,
                    "rows_ratio": round(n_rows / n_keys, 3),
                    "recall_at_10": _recall(exact, top10),
                    "sec_min": round(samples[0], 3),
                    "sec_median": round(samples[len(samples) // 2], 3),
                }
            )
            print(
                f"  ivf-soft {sf_name} top={top} margin={margin}: {soft_rows[-1]}",
                flush=True,
            )
            shutil.rmtree(ivf_dir)
    finally:
        if os.path.isdir(ivf_dir):
            shutil.rmtree(ivf_dir)
        shutil.move(saved, ivf_dir)

    return {
        "sf": sf_name,
        "n_corpus": n_corpus,
        "k": 10,
        "n_queries": len(exact),
        "pq_rerank_sweep": pq_rows,
        "ivf_probe_curve": ivf_rows,
        "ivf_soft_sweep": soft_rows,
        "ivf_assign_top": meta.get("assign_top", 1),
        "production_points": {"pq_rerank": "auto=16*k=160", "ivf_n_probe": 4},
    }


def main():
    from dataingestionplayground_spark.session import get_spark

    # sf1.0 included by default since r12 (verdict item 3): the driver
    # measured raw ADC recall@10 eroding to 0.36 at sf1.0 while rerank
    # held 0.88 — the curve at sf1.0 is the documented evidence for the
    # fixed-codebook-resolution contract, and bench_compare enforces the
    # 0.8 rerank floor on every scale block including big2/sf1.0.
    dirs = sys.argv[1:] or [
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        str(ROOT / ".benchdata" / "sf0.5"),
        str(ROOT / ".benchdata" / "sf1.0"),
    ]
    spark = get_spark("ann-curves")
    out = {"blocks": []}
    for d in dirs:
        if not os.path.isdir(d):
            print(f"skip {d}: not a directory", flush=True)
            continue
        out["blocks"].append(
            sweep(
                spark,
                d,
                depths=[0, 20, 40, 80, 160, 320],
                probes=[1, 2, 4, 8, 12, 16],
            )
        )
    path = ROOT / "BENCH_ANN_CURVES.json"
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
