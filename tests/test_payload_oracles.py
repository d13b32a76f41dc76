"""Oracle net for the decoder queries: every registry query whose
payloads are synthesised or decoded through ``operators.payloads``
(directly or through a shared pipeline) matches its DuckDB oracle at
the test scale factor, through the same row normaliser as
``tools/check_correctness.py``."""

from __future__ import annotations

import pytest

from conftest import assert_df_matches_oracle
from mit_6_5840_mapreduce_with_go_spark.registry import ORACLES, QUERIES, load_all

load_all()

PAYLOAD_QUERIES = (
    "crawl_robots_stats",
    "crawl_sitemap_stats",
    "mm_any_auto_dispatch_stats",
    "mm_any_auto_quarantine_stats",
    "mm_audio_vad_segments",
    "mm_container_auto_dispatch_stats",
    "mm_decode_auto_dispatch_stats",
    "mm_decode_avro_stats",
    "mm_decode_bmp_stats",
    "mm_decode_flac_stats",
    "mm_decode_frames",
    "mm_decode_gif_anim_stats",
    "mm_decode_gif_stats",
    "mm_decode_gzip_stats",
    "mm_decode_jpeg422_stats",
    "mm_decode_jpeg_color_stats",
    "mm_decode_jpeg_progressive_color_stats",
    "mm_decode_jpeg_progressive_stats",
    "mm_decode_jpeg_stats",
    "mm_decode_mp3_stats",
    "mm_decode_npz_stats",
    "mm_decode_orc_stats",
    "mm_decode_png16_trns_stats",
    "mm_decode_png_palette_stats",
    "mm_decode_png_stats",
    "mm_decode_ppm_stats",
    "mm_decode_qoi_stats",
    "mm_decode_quarantine_stats",
    "mm_decode_tar_pax_stats",
    "mm_decode_tar_stats",
    "mm_decode_tfrecord_stats",
    "mm_decode_warc_stats",
    "mm_decode_wav_stats",
    "mm_decode_zip_stats",
    "mm_decode_zip_stream_stats",
    "mm_decode_zlib_stats",
    "mm_decode_zstd_dict_stats",
    "mm_decode_zstd_entropy_stats",
    "mm_decode_zstd_stats",
    "mm_dedup_audio_fingerprint",
    "mm_dedup_image_dhash",
    "mm_dedup_image_pr_eval",
    "mm_exif_orientation_stats",
    "mm_id3_tags_stats",
    "mm_parquet_footer_stats",
    "mm_resize_plan",
    "mm_safetensors_stats",
    "mm_video_frame_sample",
    "mm_video_keyframes",
    "mm_video_shot_boundaries",
    "mm_warc_http_stats",
    "mm_webdataset_ingest_stats",
    "table_iceberg_manifest_census",
    "text_html_links_stats",
    "text_utf8_validation_stats",
)


@pytest.mark.parametrize("name", PAYLOAD_QUERIES)
def test_payload_query_matches_oracle(spark, sf_dir, duck, name):
    assert_df_matches_oracle(QUERIES[name](spark, sf_dir), duck, ORACLES[name])
