"""Every catalog entry with an oracle must match DuckDB bit-for-bit at
sf0.001 — a fast local mirror of the driver's t2 gate (which runs the
same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from amazonredshift_blueprints_spark.plans import QUERIES
from tools.check_correctness import compare


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = QUERIES[name]
    sdf = spec.build(spark, sf_dir).toPandas()
    if spec.oracle is None:
        # rows-only contract: must run and produce a stable schema
        assert sdf.columns.tolist(), name
        return
    ddf = duck.execute(spec.oracle).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """q33's point: with both sides bucketed on the join key, the
    sort-merge join takes its inputs straight from the bucketed scans —
    no Exchange below the join. (A linear per-bucket Sort remains:
    Spark ≥3.0 ignores bucket sortBy metadata on read by default,
    spark.sql.legacy.bucketedTableScan.outputOrdering.)"""
    df = QUERIES["q33_bucketed_colocated_join"].build(spark, sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # render full plan
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    join_at = plan.index("SortMergeJoin")
    below_join = plan[join_at:]
    agg_exchanges = plan[:join_at].count("Exchange")  # group-by shuffle: expected
    assert "Exchange" not in below_join, below_join[:500]
    assert "Bucketed: true" in below_join
    assert agg_exchanges >= 1  # sanity: we looked at the right plan


def test_approx_distinct_within_rsd(spark, sf_dir, duck):
    """q12's promise: approx_count_distinct(rsd=0.01) stays within a few
    rsd of the exact per-group distinct count."""
    from amazonredshift_blueprints_spark.plans import QUERIES

    got = {
        r["l_returnflag"]: r["approx_parts"]
        for r in QUERIES["q12_agg_approx_distinct"].build(spark, sf_dir).collect()
    }
    exact = dict(
        duck.execute(
            "SELECT l_returnflag, COUNT(DISTINCT l_partkey) FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    assert set(got) == set(exact)
    for flag, approx in got.items():
        assert abs(approx - exact[flag]) <= max(5, 0.05 * exact[flag]), (
            flag, approx, exact[flag],
        )


def test_driver_window_is_exactly_50_and_leads_registry():
    """The round driver hard-verifies the FIRST 50 registry entries; the
    rotation list must fill that window exactly — a silent off-by-a-few
    would quietly drop fresh-this-round entries from driver verification."""
    from amazonredshift_blueprints_spark.plans.catalog import _DRIVER_WINDOW, QUERIES

    assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
    assert len(set(_DRIVER_WINDOW)) == 50  # no duplicates eating slots
    assert list(QUERIES)[:50] == _DRIVER_WINDOW


#: ``schema.simpleString()`` of every ``multimodal``-tagged entry, pinned
#: because ``compare`` casts every integer column to Int64 — a long → int
#: or double drift in an operator's declared output would pass the oracle.
MULTIMODAL_SCHEMAS = {
    "c103_audio_decode_stats": (
        "struct<doc_id:bigint,sample_rate:bigint,n_channels:bigint,"
        "n_samples:bigint,sum_ch0:bigint,sum_ch1:bigint,"
        "sum_abs:bigint>"
    ),
    "c130_gif_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c14_multimodal_features": (
        "struct<doc_id:bigint,n_bytes:bigint,payload_md5:string,"
        "head_hex:string,feature:string>"
    ),
    "c153_bmp_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c180_qoi_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c195_tga_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c211_jpeg_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,px_sum:bigint,px_min:bigint,"
        "px_max:bigint>"
    ),
    "c213_jpeg_color_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c214_jpeg_subsampled_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c215_jpeg_restart_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c216_jpeg_progressive_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c217_g711_audio_decode_stats": (
        "struct<doc_id:bigint,law:string,n_samples:bigint,"
        "sum_pcm:bigint,sum_abs:bigint,min_pcm:bigint,"
        "max_pcm:bigint>"
    ),
    "c218_adpcm_audio_decode_stats": (
        "struct<doc_id:bigint,n_samples:bigint,sum_pcm:bigint,"
        "sum_abs:bigint,min_pcm:bigint,max_pcm:bigint>"
    ),
    "c219_png_deep_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint,"
        "sum_a:bigint,px_max:bigint>"
    ),
    "c220_tiff_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint,"
        "sum_a:bigint,px_max:bigint>"
    ),
    "c221_tiff_compressed_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_channels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint,"
        "sum_a:bigint,px_max:bigint>"
    ),
    "c222_gif_animation_stats": (
        "struct<doc_id:bigint,n_frames:bigint,width:bigint,"
        "height:bigint,total_delay:bigint,n_transparent:bigint,"
        "n_loops:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c223_wav_telephony_stats": (
        "struct<doc_id:bigint,sample_rate:bigint,n_samples:bigint,"
        "sum_pcm:bigint,sum_abs:bigint,min_pcm:bigint,"
        "max_pcm:bigint>"
    ),
    "c224_warc_extract_stats": (
        "struct<doc_id:bigint,n_records:bigint,n_conversion:bigint,"
        "n_response:bigint,sum_text_len:bigint,n_tokens:bigint>"
    ),
    "c225_webdataset_stats": (
        "struct<doc_id:bigint,n_samples:bigint,label_sum:bigint,"
        "n_tokens:bigint,text_len:bigint,px_sum:bigint>"
    ),
    "c226_jpeg_cmyk_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_c:bigint,sum_m:bigint,sum_y:bigint,"
        "sum_k:bigint>"
    ),
    "c229_pnm_decode_stats": (
        "struct<doc_id:bigint,variant:string,width:bigint,"
        "height:bigint,n_pixels:bigint,sample_sum:bigint>"
    ),
    "c230_wav_pcm_stats": (
        "struct<doc_id:bigint,n_channels:bigint,sample_rate:bigint,"
        "n_samples:bigint,sample_sum:bigint,sample_min:bigint,"
        "sample_max:bigint>"
    ),
    "c231_bigendian_audio_stats": (
        "struct<doc_id:bigint,container:string,n_channels:bigint,"
        "sample_rate:bigint,n_samples:bigint,sample_sum:bigint,"
        "sample_min:bigint,sample_max:bigint>"
    ),
    "c233_exif_orientation_stats": (
        "struct<doc_id:bigint,orientation:bigint,width:bigint,"
        "height:bigint,topleft:bigint,pixel_sum:bigint>"
    ),
    "c235_zip_extract_stats": (
        "struct<doc_id:bigint,n_members:bigint,n_stored:bigint,"
        "n_deflated:bigint,total_bytes:bigint,token_sum:bigint>"
    ),
    "c236_ico_stats": (
        "struct<doc_id:bigint,n_frames:bigint,n_png:bigint,"
        "n_bmp:bigint,n_bmp32:bigint,n_pixels:bigint,"
        "pixel_sum:bigint,alpha_sum:bigint>"
    ),
    "c240_web_curation_e2e": (
        "struct<domain:string,n_pages:bigint,n_repaired:bigint,"
        "token_sum:bigint>"
    ),
    "c244_apng_stats": (
        "struct<doc_id:bigint,n_frames:bigint,num_plays:bigint,"
        "delay_num_sum:bigint,canvas_sum:bigint>"
    ),
    "c35_frame_sample": (
        "struct<doc_id:bigint,frame_idx:bigint,"
        "n_frame_bytes:bigint,frame_md5:string>"
    ),
    "c64_image_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c81_png_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
    "c83_png_variant_decode_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,"
        "n_pixels:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint>"
    ),
}


@pytest.mark.parametrize(
    "name", sorted(n for n, s in QUERIES.items() if "multimodal" in s.tags)
)
def test_multimodal_output_schema(name, spark, sf_dir):
    schema = QUERIES[name].build(spark, sf_dir).schema
    assert schema.simpleString() == MULTIMODAL_SCHEMAS[name]


def test_copy_maxerror_builds_twice_in_one_session(spark, duck, sf_dir):
    """a04 creates its typed COPY target table; a second build in the
    same session must rebuild it (not raise TABLE_OR_VIEW_ALREADY_EXISTS)
    and still match the oracle."""
    spec = QUERIES["a04_copy_maxerror"]
    spec.build(spark, sf_dir).count()
    sdf = spec.build(spark, sf_dir).toPandas()
    problems = compare(spec.name, sdf, duck.execute(spec.oracle).fetchdf())
    assert not problems, problems
