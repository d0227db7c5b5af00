#!/usr/bin/env python
"""End-to-end example: the multimodal column pipeline.

A 100 TB multimodal corpus stores media as opaque binary columns; the
pipeline routes each blob to a decoder and lands typed feature tables.
This script shows that shape on the ``documents`` table with every
row of the engine's codec table (``codecs.CODECS``: thirteen
stdlib-real formats, one encode -> decode skeleton):

1. metadata pass   — cheap JVM-side projection (size/digest/format)
                     that routes media to decoders;
2. decode passes   — every codec family end to end: raw (PPM), deflate
                     (PNG), PCM (WAV), DCT+Huffman (baseline JPEG),
                     companding (G.711 mu-law), container index-seek
                     (AVI frame sampling), dictionary coding (GIF LZW),
                     run-length coding (TGA), and the archive
                     containers (tar, ZIP, gzip, xz, SQLite);
3. feature sink    — one parquet table per codec, partitioned the way a
                     downstream trainer would read them.

On a real corpus the synthesized-payload encode stage disappears (the
bytes already exist); everything else in this file is the production
shape.

Usage:
    python examples/run_multimodal_decode.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_map_reduce_ruuner_spark.operators import codecs, multimodal
from simple_map_reduce_ruuner_spark.session import get_spark

def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/multimodal_out"
    spark = get_spark()

    meta = multimodal.multimodal_meta(spark, sf_dir)
    meta.write.mode("overwrite").parquet(f"{out_dir}/meta")
    print(f"meta: {meta.count()} blobs profiled -> {out_dir}/meta")

    for name in codecs.CODECS:
        df = codecs.QUERIES[name].fn(spark, sf_dir)
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
        print(f"{name}: {df.count()} rows x {len(df.columns)} features")

    frames = multimodal.frame_sample(spark, sf_dir)
    frames.write.mode("overwrite").parquet(f"{out_dir}/frame_digests")
    print(f"frame_sample: {frames.count()} frame digests")
    print(f"done -> {out_dir}")


if __name__ == "__main__":
    main()
