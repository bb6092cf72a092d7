"""Where does the driver-side labelling stop beating the star rounds?

``connected_components`` labels the edge set on the driver when its
bytes fit ``spark.sql.autoBroadcastJoinThreshold`` and runs the
large-star/small-star rounds above it. This tool times both paths on
seeded synthetic near-duplicate graphs as the edge count grows: ``n``
edges, each between two random members of one of ``n / cluster``
clusters of ``cluster`` nodes (many small components, the shape the
dedup pair finders emit). Node ids are ``xxhash64`` of (cluster,
member), as longs or as ``doc-<hex>`` strings, so the component minimum
is unrelated to the generation order. The star path is forced by
setting ``spark.sql.autoBroadcastJoinThreshold`` to -1 around its runs;
the local path runs with the threshold raised past the edge bytes, so
sizes above the session default are timed too. Each size checks that
both paths give the same ``(id, component)`` rows (count and an
order-independent hash).

Timed: ``dedup_clusters(pairs)`` written to the ``noop`` sink, which is
the labelling plus its consumer's cluster-size join.

Usage: python tools/cc_crossover.py [--edges 1000,100000,1000000]
       [--ids long|string] [--cluster 4] [--reps 2] [--master local[4]]
Prints one JSON line per (edge count, path) with the edge bytes the
path choice sees and the min/median wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_pairs(spark, n: int, cluster: int, ids: str, seed: int):
    from pyspark.sql import functions as F

    n_clusters = max(n // cluster, 1)
    c = F.floor(F.rand(seed) * n_clusters)

    def node(member):
        h = F.xxhash64(c, member)
        return F.concat(F.lit("doc-"), F.hex(h)) if ids == "string" else h

    return (
        spark.range(n, numPartitions=8)
        .select(
            c.alias("c"),
            F.floor(F.rand(seed + 1) * cluster).alias("a"),
            F.floor(F.rand(seed + 2) * cluster).alias("b"),
        )
        .select(node(F.col("a")).alias("id_a"), node(F.col("b")).alias("id_b"))
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", default="1000,100000,1000000")
    ap.add_argument("--ids", choices=("long", "string"), default="long")
    ap.add_argument("--cluster", type=int, default=4)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gjspark.operators.dedup import dedup_clusters
    from gjspark.session import broadcast_threshold_override, get_spark

    spark = get_spark("cc_crossover", master=args.master)
    paths = {"local": str(2**62), "star": "-1"}
    for n in (int(v) for v in args.edges.split(",")):
        pairs = synth_pairs(spark, n, args.cluster, args.ids, seed=n).cache()
        pairs.count()
        edge_bytes = (
            pairs.filter(F.col("id_a") != F.col("id_b")).distinct()
            .agg(F.sum(F.octet_length("id_a") + F.octet_length("id_b"))
                 if args.ids == "string" else F.count("*") * 16)
            .first()[0]
        )
        sigs = {}
        for path, threshold in paths.items():
            with broadcast_threshold_override(spark, threshold):
                sigs[path] = tuple(dedup_clusters(pairs).agg(
                    F.count("*"),
                    F.expr("bit_xor(xxhash64(id, cluster_id, cluster_size))"),
                ).first())
        walls = {p: [] for p in paths}
        for _ in range(args.reps):  # alternate the paths
            for path, threshold in paths.items():
                with broadcast_threshold_override(spark, threshold):
                    t0 = time.perf_counter()
                    dedup_clusters(pairs).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    walls[path].append(time.perf_counter() - t0)
        pairs.unpersist()
        for path in paths:
            print(json.dumps({
                "edges": n,
                "ids": args.ids,
                "edge_bytes": edge_bytes,
                "cluster": args.cluster,
                "path": path,
                "rows": sigs[path][0],
                "rows_equal": sigs["local"] == sigs["star"],
                "wall_min_s": round(min(walls[path]), 3),
                "wall_median_s": round(statistics.median(walls[path]), 3),
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
