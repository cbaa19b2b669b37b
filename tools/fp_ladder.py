"""Fingerprint-index decode-once ladder (SCALING.md "Fingerprint
index" table): one point per run at FP_SIZE px (env, default 512) —
same 2,089-image corpus recipe as the round-11 rows (planted near-dups
every 3rd image), decode lane vs persisted-index lane vs build-once.
Images are generated DISTRIBUTED (mapInPandas, deterministic per id) —
512px PPM is ~786KB/row, 1.6GB total, too big to ship via py4j."""
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from deeplake_spark import get_spark  # noqa: E402

SIZE = int(os.environ.get("FP_SIZE", "512"))
N_BASE = 784  # 1567 bases + 523 perturbed copies ~= 2090 rows (r11 recipe)
WORK = f"/tmp/fp_ladder_{SIZE}"


def gen(it):
    # yield SMALL frames: 786KB/row x a 10k-row batch would be ~8GB
    ids, blobs = [], []
    for pdf in it:
        for i in pdf["id"]:
            i = int(i)
            rng = np.random.default_rng(i)
            base = rng.integers(0, 256, (SIZE, SIZE, 3), dtype=np.uint8)
            hdr = b"P6\n%d %d\n255\n" % (SIZE, SIZE)
            ids.append(2 * i)
            blobs.append(hdr + base.tobytes())
            if i % 3 == 0:
                pert = base.copy()
                pert[: SIZE // 8, : SIZE // 8] = rng.integers(
                    0, 256, (SIZE // 8, SIZE // 8, 3), dtype=np.uint8)
                ids.append(2 * i + 1)
                blobs.append(hdr + pert.tobytes())
            if len(ids) >= 8:
                yield pd.DataFrame({"img_id": ids, "image": blobs})
                ids, blobs = [], []
    if ids:
        yield pd.DataFrame({"img_id": ids, "image": blobs})


def main():
    spark = get_spark("fp-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    # MB-scale binary rows: keep Arrow input batches to the decode
    # mapInPandas small (16 x 786KB ~= 12MB per in-flight batch/task)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "33554432")
    from deeplake_spark.operators.multimodal import (
        build_fingerprint_index,
        image_near_dup_pairs,
    )

    src = os.path.join(WORK, "images.parquet")
    (spark.range(N_BASE).repartition(32)
     .mapInPandas(gen, "img_id long, image binary")
     .write.mode("overwrite").parquet(src))
    df = spark.read.parquet(src)
    n = df.count()

    def timed(fn, runs=2):
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    decode = timed(lambda: image_near_dup_pairs(
        df, "image", "img_id", compression="ppm", strict=True,
        max_hamming=6).write.mode("overwrite").format("noop").save())

    idx_path = os.path.join(WORK, "fp_idx")
    t0 = time.perf_counter()
    build_fingerprint_index(df, "image", "img_id", "image",
                            compression="ppm", strict=True).save(idx_path)
    build_once = round(time.perf_counter() - t0, 3)

    index = timed(lambda: image_near_dup_pairs(
        df, max_hamming=6, index_path=idx_path)
        .write.mode("overwrite").format("noop").save())

    a = {(r.a, r.b) for r in image_near_dup_pairs(
        df, "image", "img_id", compression="ppm", strict=True,
        max_hamming=6).collect()}
    b = {(r.a, r.b) for r in image_near_dup_pairs(
        df, max_hamming=6, index_path=idx_path).collect()}
    assert a == b and a, (len(a), len(b))

    print(json.dumps({"size": SIZE, "rows": n,
                      "decode_lane_s": decode, "index_lane_s": index,
                      "build_once_s": build_once,
                      "ratio": round(decode / index, 2),
                      "pairs": len(a)}))


if __name__ == "__main__":
    main()
