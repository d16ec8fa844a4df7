"""Round-11 (verdict item 4): 10x volume sweep over the COMBINED-edge
corpus — interactions x volume, the last untested quadrant.

The eleven fixture classes are parity-swept at fixture scale and the
hot-key skew probe ran 10x on its OWN class only; this harness takes
the combined corpus (all composable hostile classes merged + skewed +
shuffled + empty part files) and scales it 10x with key-shifted copies
(the scale_rehearsal stride discipline: FK groups move together, the
region/nation lookup dims stay single-copy), then materializes the
heaviest catalog plans in ONE fresh default-heap session.

Cross-copy documents/payloads are exact duplicates BY CONSTRUCTION, so
the dedup families see 10x duplicate density on top of the hostile
values — the same shape that killed a 4g JVM in round 6 before the
structural exact-dup collapse. Green = every heavy completes at the
default heap; a kill is a structural regression to fix like the round-
10 basket cap, never a sizing note.

The combined base corpus is adversarial-fixture scale (~80 documents),
so the default x10 leg mostly proves the mechanics; `--copies 100`
gives the real duplicate-density stress (every doc 99 exact copies on
top of the hostile values — intra-group pair expansions grow ~copies^2,
the historical 4g-killer shape).

Usage (from any cwd; writes only under /tmp):

    python /root/repo/tests/combined_scale_sweep.py               # x10
    python /root/repo/tests/combined_scale_sweep.py --copies 100  # x100
    python /root/repo/tests/combined_scale_sweep.py --build-only
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

OUT = "/tmp/spark_graft_combined_scale"
DEFAULT_COPIES = 10

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TESTS_DIR)
for _p in (_REPO, _TESTS_DIR):
    if _p not in sys.path:
        sys.path.insert(0, _p)

# key strides (match tests/scale_rehearsal.py): large enough that ten
# shifted copies of the combined corpus (class offsets <= 500k + skew
# renumbering) can never collide
from scale_rehearsal import SHIFTS  # noqa: E402  (same dir at runtime)

# the graded heaviest plans (slowest per-query timings of the round-10/11
# catalog runs) plus the historical heap-killer dedup/multimodal legs
HEAVY = [
    "dedup_embedding_cosine_pairs",
    "dedup_family_agreement",
    "corpus_dedup_rate_by_source",
    "copurchase_part_pairs_lift",
    "ann_ivf_kmeans_topk",
    "ann_mmr_diversified",
    "ann_eval_fusion_gain",
    "decontam_trigram_overlap",
    "trend_theilsen_daily_revenue",
    "bpe_segment_stats",
    "pagerank_copurchase_top20",
    "graph_kcore_members",
    "multimodal_feature_near_pairs",
    "dedup_edit_distance_pairs",
]


def build_base(dst: Path) -> None:
    """Combined-edge corpus at fixture scale (the slow-suite builder)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for p in (repo, os.path.dirname(os.path.abspath(__file__))):
        if p not in sys.path:
            sys.path.insert(0, p)
    from test_edge_relational_smoke import build_combined_edge_fixture

    dst.mkdir(parents=True, exist_ok=True)
    build_combined_edge_fixture(dst)


def build_nx(src: Path, dst: Path, n_copies: int) -> None:
    """Union src with (n_copies-1) key-shifted copies via DuckDB.
    Tables are part-file directories (the shuffled-layout shape);
    output is one parquet file per table — the layout class is already
    exercised at 1x, this leg tests VOLUME/duplicate density."""
    import duckdb

    dst.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in ("region", "nation"):
        # lookup dims: single copy (duplicating would break their PKs)
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet/*.parquet'))"
            f" TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t, shifts in SHIFTS.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src}/{t}.parquet/*.parquet')"
            ).fetchall()
        ]
        selects = []
        for k in range(n_copies):
            proj = ", ".join(
                f"({c} + {shifts[c] * k}) AS {c}" if c in shifts else c
                for c in cols
            )
            selects.append(
                f"SELECT {proj} FROM read_parquet('{src}/{t}.parquet/*.parquet')"
            )
        union = " UNION ALL ".join(selects)
        con.execute(f"COPY ({union}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    n_copies = DEFAULT_COPIES
    if "--copies" in sys.argv:
        n_copies = int(sys.argv[sys.argv.index("--copies") + 1])
    base = Path(OUT) / "combined_x1"
    big = Path(OUT) / f"combined_x{n_copies}"
    if not (base / "lineitem.parquet").exists():
        print("building combined-edge base corpus ...", flush=True)
        build_base(base)
    if not (big / "lineitem.parquet").exists():
        print(f"building {n_copies}x key-shifted corpus ...", flush=True)
        build_nx(base, big, n_copies)
    if "--build-only" in sys.argv:
        return 0

    from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY
    from kafka_avro_order_processor_eg_4131_spark.operators import cache as C
    from kafka_avro_order_processor_eg_4131_spark.session import get_spark

    spark = get_spark(app_name=f"combined-{n_copies}x-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    heap = spark.conf.get("spark.driver.memory", "unset")
    print(f"session heap: {heap} (default — no crutch allowed)", flush=True)
    bad = 0
    for name in HEAVY:
        t0 = time.time()
        try:
            n = REGISTRY[name].fn(spark, str(big)).count()
            print(f"OK  {name}: {time.time() - t0:.1f}s rows={n}", flush=True)
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            bad += 1
            print(f"ERR {name}: {type(e).__name__}: {e}"[:300], flush=True)
        C.release_ephemeral(spark)
    C.release_all()
    print(f"COMBINED-{n_copies}x SWEEP {'FAIL' if bad else 'OK'}: "
          f"{len(HEAVY)} plans, {bad} errors, heap {heap}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
