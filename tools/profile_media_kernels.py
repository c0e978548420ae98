"""Isolate where media-query time goes: synth stage vs decode stage vs
final collect (guide §1.4 — noop sink so the sink never bills the
computation; §1.5 — labeled jobs).

First, without Spark, the in-process kernel CPU of each named family
(``time.process_time``, best of 3, over the fixture's ``doc_id``s read
with pyarrow):
  make    — make_X_bytes(doc_id) for every doc
  decode  — the decoder's row function over those payloads (no synth)

Then, for each named media family, on one warm local session:
  synth   — make_X_bytes per doc in the media stage, no decode → noop
  decode  — media_frame(docs, make_X_bytes, decode_X) → noop  (includes synth cost)
  query   — the declared registry query → noop   (adds the doc_id range shuffle)

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
       python tools/profile_media_kernels.py [name ...]
Names default to the heavy set below; any registered query name works
for the `query` row (synth/decode rows need a known family pairing).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# family → (make fn name in multimodal.synth, decode fn name in multimodal.decode)
FAMILIES = {
    "multimodal_webp_vp8l_transform_decode": (
        "make_webp_vp8l_transform_bytes", "decode_webp"),
    "multimodal_h264_dpixel_decode": (
        "make_h264_dpixel_bytes", "decode_h264_dpixel"),
    "multimodal_h264_submb_decode": (
        "make_h264_submb_bytes", "decode_h264_submb"),
    "multimodal_h264_bpixel_decode": (
        "make_h264_bpixel_bytes", "decode_h264_bpixel"),
    "multimodal_h264_wpixel_decode": (
        "make_h264_wpixel_bytes", "decode_h264_wpixel"),
    "multimodal_h264_cavlc_decode": (
        "make_h264_cavlc_bytes", "decode_h264_cavlc"),
    "multimodal_h264_chroma_decode": (
        "make_h264_chroma_bytes", "decode_h264_chroma"),
    "multimodal_h264_fracpel_decode": (
        "make_h264_fracpel_bytes", "decode_h264_fracpel"),
    "multimodal_flac_stereo_decode": (
        "make_flac_stereo_bytes", "decode_flac_stereo"),
    "multimodal_mp3_wswitch_regions_decode": (
        "make_mp3_ws_bytes", "decode_mp3_maindata"),
    "multimodal_jpeg_exif_meta": (
        "make_jpeg_exif_bytes", "decode_jpeg_exif"),
    "multimodal_aac_adts_walk": (
        "make_aac_adts_bytes", "decode_aac_adts"),
    "multimodal_jpeg_decode": (
        "make_jpeg_bytes", "decode_jpeg_real"),
    "multimodal_jpeg_progressive_decode": (
        "make_jpeg_prog_bytes", "decode_jpeg_progressive"),
    "multimodal_jpeg_color_decode": (
        "make_jpeg_color_bytes", "decode_jpeg_color"),
    "multimodal_flac_decode": (
        "make_flac_bytes", "decode_flac_real"),
    "multimodal_webp_vp8l_decode": (
        "make_webp_vp8l_bytes", "decode_webp"),
}


def best_cpu(fn, repeat: int = 3) -> float:
    """Least process CPU seconds of ``repeat`` calls of ``fn()``."""
    best = float("inf")
    for _ in range(repeat):
        t0 = time.process_time()
        fn()
        best = min(best, time.process_time() - t0)
    return best


def kernel_cpu(names: list[str], sf_dir: str) -> None:
    """Print the Spark-free make/decode CPU table for ``names``."""
    import pyarrow.parquet as pq

    from open_source_etl_spark.multimodal import decode as D
    from open_source_etl_spark.multimodal import synth as S

    doc_ids = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    ).column("doc_id").to_pylist()
    print(f"kernel CPU, {len(doc_ids)} docs, best of 3 (no Spark)")
    print(f"{'query':44s} {'make':>8s} {'decode':>8s} {'total':>8s}")
    for name in names:
        fam = FAMILIES.get(name)
        if not fam:
            continue
        make, row_fn = getattr(S, fam[0]), getattr(D, fam[1]).factory()
        raws = [make(d) for d in doc_ids]
        t_m = best_cpu(lambda: [make(d) for d in doc_ids])
        t_d = best_cpu(
            lambda: [list(row_fn(d, r)) for d, r in zip(doc_ids, raws)]
        )
        print(f"{name:44s} {t_m:8.3f} {t_d:8.3f} {t_m + t_d:8.3f}")
    print()


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    names = sys.argv[1:] or list(FAMILIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    kernel_cpu(names, sf_dir)

    from open_source_etl_spark.catalog import load_table_compute
    from open_source_etl_spark.conf import EngineConfig
    from open_source_etl_spark.multimodal import decode as D
    from open_source_etl_spark.multimodal import synth as S
    from open_source_etl_spark.multimodal.host import decoder
    from open_source_etl_spark.registry import all_queries
    from open_source_etl_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cfg = EngineConfig(master=f"local[{cpus}]", shuffle_partitions=max(int(cpus), 8))
    spark = build_session(cfg)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # warm: JVM + python workers
    spark.range(1000).mapInPandas(lambda it: it, "id long").collect()
    queries = all_queries()
    docs = load_table_compute(spark, sf_dir, "documents").select("doc_id")

    @decoder("doc_id long")
    def payload_only():
        return lambda doc_id, raw: ()

    print(f"{'query':44s} {'synth':>8s} {'decode':>8s} {'full':>8s}")
    for name in names:
        fam = FAMILIES.get(name)
        t_s = t_d = float("nan")
        if fam:
            make, dec = getattr(S, fam[0]), getattr(D, fam[1])
            sc.setJobDescription(f"profile:{name}:synth")
            t_s = noop(D.media_frame(docs, make, payload_only))
            sc.setJobDescription(f"profile:{name}:decode")
            t_d = noop(D.media_frame(docs, make, dec))
        sc.setJobDescription(f"profile:{name}:full")
        t_q = noop(queries[name](spark, sf_dir))
        sc.setJobDescription(None)
        print(f"{name:44s} {t_s:8.2f} {t_d:8.2f} {t_q:8.2f}")

    spark.stop()


if __name__ == "__main__":
    main()
