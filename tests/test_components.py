"""Component tests: table layer, typed ingest, checkpoint/resume,
streaming validation, drift math, multimodal plumbing."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from autoprepad_spark import datagen as G
from autoprepad_spark.operators.marking import mark
from autoprepad_spark.operators.profile import global_stats
from autoprepad_spark.plans.checkpoint import CheckpointTable
from autoprepad_spark.plans.suite import ValidationSuite
from autoprepad_spark.schema import TOKENS_SCHEMA
from autoprepad_spark.sources.tables import (
    PartitionedTable,
    coerce_to_schema,
    normalize_sentinels,
    read_csv_typed,
    read_json_typed,
)


# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------


def test_partitioned_table_roundtrip_and_pruning(spark, tokens_df, tmp_path):
    tbl = PartitionedTable(spark, str(tmp_path / "tok"))
    tbl.write(tokens_df)
    parts = tbl.partitions()
    assert parts == sorted(tokens_df.select("part").distinct().toPandas()["part"])

    # partition-pruned scan returns exactly that partition's rows
    one = tbl.scan(parts=[parts[0]])
    expect = tokens_df.filter(F.col("part") == parts[0]).count()
    assert one.count() == expect
    # the partition predicate must reach the file source (pruning), not a
    # post-scan Filter: hive layout → PartitionFilters in the scan node
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # column-pruned scan reads only requested columns
    slim = tbl.scan(columns=["doc_id", "n_tok"])
    assert slim.columns == ["doc_id", "n_tok"]


def test_sentinel_normalization_and_coercion(spark):
    raw = spark.createDataFrame(
        [("a", "12"), ("NaN", "x"), (" ", "3"), ("", "nan"), ("b", None)],
        ["s", "v"],
    )
    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    out = coerce_to_schema(normalize_sentinels(raw), schema).toPandas()
    assert out["s"].tolist()[0] == "a"
    assert out["s"].isna().tolist() == [False, True, True, True, False]
    # "x" and "nan" fail the int cast -> null (errors="coerce" parity)
    assert out["v"].isna().tolist() == [False, True, False, True, True]
    assert out["v"].dropna().tolist() == [12.0, 3.0]


def test_read_csv_typed(spark, tmp_path):
    p = str(tmp_path / "in.csv")
    with open(p, "w") as f:
        f.write("doc_id,n_tok,source\nd-1,10,web\nNaN,nan,books\nd-3,7,\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
        ]
    )
    out = read_csv_typed(spark, p, schema).orderBy("doc_id").toPandas()
    assert out["doc_id"].isna().sum() == 1
    assert out["n_tok"].isna().sum() == 1
    assert out["source"].isna().sum() == 1


def test_read_json_typed(spark, tmp_path):
    """JSON ingest: sentinels become nulls, a mixed-type field casts
    null-on-failure, and a key no record carries is left out."""
    p = str(tmp_path / "in.json")
    with open(p, "w") as f:
        f.write('{"doc_id": "d-1", "n_tok": 10, "source": "web"}\n'
                '{"doc_id": "NaN", "n_tok": "nan", "source": "books"}\n'
                '{"doc_id": "d-3", "n_tok": "x7", "source": ""}\n')
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
            T.StructField("absent", T.StringType()),
        ]
    )
    out = read_json_typed(spark, p, schema)
    assert out.columns == ["doc_id", "n_tok", "source"]
    assert dict(out.dtypes)["n_tok"] == "int"
    got = sorted((tuple(r) for r in out.collect()), key=str)
    assert got == sorted([("d-1", 10, "web"), (None, None, "books"),
                          ("d-3", None, None)], key=str)


def test_decompose_matches_pandas_date_encoder(spark):
    """datetimes.decompose gives the reference DateEncoder's pandas
    fields (dt.year/month/weekday/hour/minute/second; weekday Mon=0)."""
    from autoprepad_spark.functions.datetimes import decompose

    stamps = ["2024-02-29 23:59:58", "2023-01-01 00:00:00",
              "2021-07-04 12:30:15", "1999-12-31 06:07:08", None]
    df = spark.createDataFrame([(s,) for s in stamps], "s string").select(
        F.to_timestamp("s").alias("ts")
    )
    got = [tuple(r) for r in df.select(*decompose("ts")).collect()]
    assert df.select(*decompose("ts")).columns == [
        "ts_YEAR", "ts_MONTH", "ts_WKDAY", "ts_HOUR", "ts_MINUTE", "ts_SECOND"]
    dt = pd.to_datetime(pd.Series(stamps)).dt
    want = [
        tuple(None if pd.isna(x) else int(x) for x in row)
        for row in zip(dt.year, dt.month, dt.weekday, dt.hour, dt.minute, dt.second)
    ]
    assert got == want
    assert df.select(*decompose(F.col("ts"), "d")).columns[0] == "d_YEAR"


# ---------------------------------------------------------------------------
# checkpoint / resume
# ---------------------------------------------------------------------------


def test_checkpoint_resume_skips_done_parts(spark, tokens_df, dim_df, tmp_path):
    ck = CheckpointTable(spark, str(tmp_path / "ck"))
    run_id = "run-1"
    suite = ValidationSuite()

    full = suite.run(tokens_df, dim=dim_df)
    full_verdicts = full.verdicts.toPandas().sort_values(
        ["part", "check_name"]
    ).reset_index(drop=True)

    # simulate a killed run: the first two partitions completed
    all_parts = sorted(p.part for p in tokens_df.select("part").distinct().collect())
    done = all_parts[:2]
    ck.mark(run_id, [(p, 0, 0, 0.0) for p in done])
    assert ck.completed_parts(run_id) == done

    resumed = suite.run(tokens_df, dim=dim_df, checkpoint=ck, run_id=run_id)
    res_verdicts = resumed.verdicts.toPandas()
    # no verdict rows re-emitted for completed partitions
    assert set(res_verdicts["part"]) == set(all_parts) - set(done)

    # resumed verdicts equal the full run's verdicts on remaining parts
    # (fit statistics stay global, so flags don't shift across resume)
    rest = full_verdicts[~full_verdicts["part"].isin(done)].reset_index(drop=True)
    got = res_verdicts.sort_values(["part", "check_name"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[rest.columns.tolist()], rest, check_dtype=False
    )

    # idempotent re-mark + union of both mark calls stays deduplicated
    ck.mark(run_id, [(done[0], 0, 0, 0.0)])
    assert ck.completed_parts(run_id) == done


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def test_stream_validate_incremental(spark, dim_df, tmp_path):
    from autoprepad_spark.streaming.pipeline import ValidateStage, stream_pipeline

    base = G.generate_tokens(spark, 20_000, seed=11, n_parts=4).cache()
    stats = global_stats(base)
    inp = str(tmp_path / "in")
    base.write.mode("overwrite").parquet(inp)

    paths = dict(
        verdict_path=str(tmp_path / "verd"),
        violation_path=str(tmp_path / "viol"),
    )

    def drain():
        return stream_pipeline(spark, inp, schema=base.schema,
                               checkpoint_dir=str(tmp_path / "ckpt"),
                               validate=ValidateStage(stats, dim=dim_df, **paths))

    q = drain()
    q.awaitTermination(120)

    verd = spark.read.parquet(paths["verdict_path"])
    viol = spark.read.parquet(paths["violation_path"])

    # streamed violation totals match a batch marking pass with same stats
    marked = mark(base, stats)
    expect_flags = marked.agg(F.sum("flag_total")).collect()[0][0]
    got_row_checks = viol.filter(F.col("check_name") != "ref_source").count()
    assert got_row_checks == expect_flags
    assert verd.filter(F.col("check_name") == "unique_doc_id").count() == 0

    # drain again with no new files: checkpoint prevents reprocessing
    q2 = drain()
    q2.awaitTermination(120)
    assert spark.read.parquet(paths["verdict_path"]).count() == verd.count()

    # new files arrive -> only they are processed on the next drain
    extra = G.generate_tokens(spark, 5_000, seed=12, n_parts=4)
    extra.write.mode("append").parquet(inp)
    q3 = drain()
    q3.awaitTermination(120)
    verd2 = spark.read.parquet(paths["verdict_path"])
    assert verd2.select("ingest_batch").distinct().count() > verd.select("ingest_batch").distinct().count()


def test_stream_profile_windowed(spark, tmp_path):
    from autoprepad_spark.streaming.validate import stream_profile

    rows = [
        ("2024-01-01 00:10:00", "web", 10),
        ("2024-01-01 00:20:00", "web", None),
        ("2024-01-01 01:10:00", "books", 30),
    ]
    pdf = pd.DataFrame(rows, columns=["ts", "source", "n_tok"])
    src = str(tmp_path / "ev")
    spark.createDataFrame(pdf).withColumn(
        "ts", F.to_timestamp("ts")
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "ts timestamp, source string, n_tok double"
    ).parquet(src)
    out = stream_profile(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("prof_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from prof_out").toPandas()
    web = got[got["source"] == "web"].iloc[0]
    assert web["n_rows"] == 2 and web["n_null"] == 1 and web["min_value"] == 10


# ---------------------------------------------------------------------------
# drift math vs numpy oracle
# ---------------------------------------------------------------------------


def test_drift_psi_chi2_oracle(spark):
    from autoprepad_spark.operators.drift import drift

    rng = np.random.default_rng(3)
    b = rng.integers(50, 200, size=8)
    c = b.copy()
    c[0] += 400  # shifted bucket -> drift
    rows_b = [("s", i, int(v)) for i, v in enumerate(b)]
    rows_c = [("s", i, int(v)) for i, v in enumerate(c)]
    bh = spark.createDataFrame(rows_b, ["source", "bucket", "cnt"])
    ch = spark.createDataFrame(rows_c, ["source", "bucket", "cnt"])
    got = drift(bh, ch).toPandas().iloc[0]

    bp = np.maximum(b / b.sum(), 1e-6)
    cp = np.maximum(c / c.sum(), 1e-6)
    psi = float(np.sum((cp - bp) * np.log(cp / bp)))
    assert got["psi"] == pytest.approx(psi, rel=1e-9)

    # chi-square statistic oracle (expected scaled to current total)
    exp = b / b.sum() * c.sum()
    chi2 = float(np.sum((c - exp) ** 2 / exp))
    assert got["chi2_stat"] == pytest.approx(chi2, rel=1e-9)
    assert got["chi2_dof"] == len(b) - 1
    assert 0.0 <= got["chi2_pvalue"] <= 1.0


def _drift_grouped_map(bh, ch):
    """The former distributed drift plan: full-outer join, then one
    grouped-map pandas UDF per source."""
    from autoprepad_spark.operators import drift as DR

    b = bh.select("source", "bucket", F.col("cnt").alias("baseline_cnt"))
    c = ch.select("source", "bucket", F.col("cnt").alias("current_cnt"))
    return (
        b.join(c, ["source", "bucket"], "full_outer")
        .groupBy("source")
        .applyInPandas(DR._drift_one_source, DR._DRIFT_SCHEMA)
    )


def _by_source(df):
    return {r["source"]: r.asDict() for r in df.collect()}


def test_drift_driver_side_matches_grouped_map(spark):
    from autoprepad_spark.operators.drift import drift

    rng = np.random.default_rng(5)
    schema = "source string, bucket int, cnt long"
    rows_b, rows_c = [], []
    for s in ("web", "books", None):
        for i in range(6):
            rows_b.append((s, i, int(rng.integers(5, 90))))
            rows_c.append((s, i + (1 if s == "web" else 0), int(rng.integers(5, 90))))
    rows_b += [("gone", i, 7 + i) for i in range(3)]  # baseline-only source
    rows_c += [("new", i, 3 + i) for i in range(4)]  # current-only source
    bh = spark.createDataFrame(rows_b, schema)
    ch = spark.createDataFrame(rows_c, schema)

    want = _by_source(_drift_grouped_map(bh, ch))
    got = _by_source(drift(bh, ch))
    assert set(got) == set(want) == {"web", "books", None, "gone", "new"}
    for src, w in want.items():
        g = got[src]
        for k in ("chi2_dof", "n_buckets", "baseline_n", "current_n"):
            assert g[k] == w[k], (src, k)
        for k in ("psi", "chi2_stat", "chi2_pvalue"):
            assert g[k] == pytest.approx(w[k], rel=1e-12), (src, k)
    # the full-outer rows of a one-sided source score infinite PSI
    assert got["gone"]["psi"] == got["new"]["psi"] == float("inf")
    assert got["gone"]["status"] == got["new"]["status"] == "fail"

    # a pure function of the two histograms: any row order, same values
    for seed in (1, 2):
        order = np.random.default_rng(seed)
        sb = [rows_b[i] for i in order.permutation(len(rows_b))]
        sc = [rows_c[i] for i in order.permutation(len(rows_c))]
        again = drift(spark.createDataFrame(sb, schema), spark.createDataFrame(sc, schema))
        assert _by_source(again) == got


def test_fit_cells_bucket_like_ntok_histogram(spark):
    """The suite's drift histogram (bucketed from the fit's cells) equals
    ntok_histogram's scan: null sources and null n_tok dropped. The same
    collect counts each partition's rows, a null part included."""
    from autoprepad_spark.operators.drift import bucket_counts, ntok_histogram
    from autoprepad_spark.operators.profile import part_and_cell_counts, stats_from_ntok_counts

    rows = [("a", "web", 10), ("a", "web", 70), ("b", "web", 70), ("b", "code", 0),
            ("b", "code", 129), (None, None, 5), ("a", "web", None), (None, None, None),
            ("a", "code", 64)]
    df = spark.createDataFrame(rows, "part string, source string, n_tok int")
    want = sorted(tuple(r) for r in ntok_histogram(df, bucket_width=64).collect())
    parts, cells = part_and_cell_counts(df)
    assert parts == {"a": 4, "b": 3, None: 2}
    assert part_and_cell_counts(df, cells=False) == (parts, [])
    assert sorted(bucket_counts(cells, bucket_width=64)) == want
    assert want == [("code", 0, 1), ("code", 1, 1), ("code", 2, 1),
                    ("web", 0, 1), ("web", 1, 2)]
    # the same cells summed over source are global_stats' histogram
    assert global_stats(df) == stats_from_ntok_counts((v, n) for _, v, n in cells)


def _ks_pvalue_ref(d, n_b, n_c):
    import math

    ne = n_b * n_c / (n_b + n_c)
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    if lam < 0.3:
        return 1.0
    s = sum(
        (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        for k in range(1, 101)
    )
    return min(max(2.0 * s, 0.0), 1.0)


def test_ks_drift_matches_duckdb_and_reference(spark):
    import duckdb

    from autoprepad_spark.operators.drift import ks_drift

    rng = np.random.default_rng(11)
    rows_b, rows_c = [], []
    for s in ("web", "books", "code"):
        for i in range(10):
            rows_b.append((s, i, int(rng.integers(10, 200))))
            # shift 'web' mass rightward; leave one side-only bucket
            if not (s == "books" and i == 9):
                rows_c.append((s, i + (2 if s == "web" else 0),
                               int(rng.integers(10, 200))))
    bh = spark.createDataFrame(rows_b, ["source", "bucket", "cnt"])
    ch = spark.createDataFrame(rows_c, ["source", "bucket", "cnt"])
    got = {r["source"]: r for r in ks_drift(bh, ch).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE b (source text, bucket int, cnt long)")
    con.execute("CREATE TABLE c (source text, bucket int, cnt long)")
    con.executemany("INSERT INTO b VALUES (?, ?, ?)", rows_b)
    con.executemany("INSERT INTO c VALUES (?, ?, ?)", rows_c)
    want = con.execute(
        """
        WITH j AS (
          SELECT coalesce(b.source, c.source) AS source,
                 coalesce(b.bucket, c.bucket) AS bucket,
                 coalesce(b.cnt, 0) AS bc, coalesce(c.cnt, 0) AS cc
          FROM b FULL OUTER JOIN c
            ON b.source = c.source AND b.bucket = c.bucket
        ), cum AS (
          SELECT source,
                 abs(sum(bc) OVER w / (sum(bc) OVER t * 1.0)
                   - sum(cc) OVER w / (sum(cc) OVER t * 1.0)) AS gap,
                 sum(bc) OVER t AS bn, sum(cc) OVER t AS cn
          FROM j
          WINDOW w AS (PARTITION BY source ORDER BY bucket
                       ROWS UNBOUNDED PRECEDING),
                 t AS (PARTITION BY source)
        )
        SELECT source, max(gap), max(bn), max(cn) FROM cum GROUP BY source
        """
    ).fetchall()
    assert len(want) == 3
    for source, d, bn, cn in want:
        r = got[source]
        assert r["ks_stat"] == pytest.approx(d, abs=1e-12)
        assert (r["baseline_n"], r["current_n"]) == (bn, cn)
        assert r["ks_pvalue"] == pytest.approx(
            _ks_pvalue_ref(d, bn, cn), abs=1e-12
        )
    assert got["web"]["status"] == "fail"  # planted shift
    assert got["code"]["ks_stat"] < got["web"]["ks_stat"]


def test_ks_drift_identical_and_empty_sides(spark):
    from autoprepad_spark.operators.drift import ks_drift

    rows = [("s", i, 100) for i in range(5)]
    h = spark.createDataFrame(rows, ["source", "bucket", "cnt"])
    same = ks_drift(h, h).collect()[0]
    assert same["ks_stat"] == 0.0 and same["ks_pvalue"] == 1.0
    assert same["status"] == "pass"

    empty = spark.createDataFrame(
        [("s", 0, 0)], ["source", "bucket", "cnt"]
    )
    gone = ks_drift(h, empty).collect()[0]
    assert gone["ks_stat"] is None and gone["status"] == "fail"


def test_ks_drift_plan_has_no_python(spark):
    from autoprepad_spark.operators.drift import ks_drift

    h = spark.createDataFrame([("s", 0, 1)], ["source", "bucket", "cnt"])
    plan = ks_drift(h, h)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_feature_extraction(spark):
    from autoprepad_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        synth_media,
    )

    media = synth_media(spark, n=32, seed=5)
    feats = extract_features(media, fake_decode=True).toPandas()
    assert len(feats) == 32
    assert feats["ok"].all()
    assert all(len(v) == FEATURE_DIM for v in feats["feature"])
    # deterministic: same payload -> same feature
    again = extract_features(synth_media(spark, n=32, seed=5), fake_decode=True).toPandas()
    a = feats.sort_values("media_id")["feature"].tolist()
    bb = again.sort_values("media_id")["feature"].tolist()
    for x, y in zip(a, bb):
        assert np.allclose(x, y)


def test_multimodal_real_decode(spark):
    from autoprepad_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=9, seed=5)
    out = extract_features(media, fake_decode=False).toPandas()
    # all three kinds decode for REAL (BMP / PCM WAV / uncompressed AVI)
    assert out["ok"].all(), out[["kind", "error"]].to_dict("records")


def test_bmp_wav_codec_roundtrip():
    import numpy as np

    from autoprepad_spark.operators.multimodal import (
        decode_bmp, decode_wav, encode_bmp, encode_wav,
    )

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)  # odd width: padding path
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)
    s = rng.integers(-32768, 32767, size=777).astype(np.int16)
    assert np.array_equal(decode_wav(encode_wav(s)), s)


def test_avi_codec_roundtrip_and_demux():
    import numpy as np

    from autoprepad_spark.operators.multimodal import decode_avi, encode_avi

    rng = np.random.default_rng(11)
    # odd width exercises the DIB 4-byte row padding path
    fr = rng.integers(0, 256, size=(5, 6, 7, 3), dtype=np.uint8)
    b = encode_avi(fr, fps=25)
    assert np.array_equal(decode_avi(b), fr)
    # selective frame decode (demuxer seeks, does not decode all frames)
    sel = decode_avi(b, [4, 0, 2])
    assert np.array_equal(sel[0], fr[4]) and np.array_equal(sel[2], fr[2])
    # compressed stream -> NotImplementedError (honest codec boundary)
    import struct as st

    comp = bytearray(b)
    strf_at = b.find(b"strf")
    st.pack_into("<I", comp, strf_at + 8 + 16, 1)  # biCompression=BI_RLE8
    with pytest.raises(NotImplementedError):
        decode_avi(bytes(comp))


def test_y4m_codec_roundtrip_and_demux():
    import numpy as np

    from autoprepad_spark.operators.multimodal import decode_y4m, encode_y4m

    rng = np.random.default_rng(13)
    # odd width: Y4M has no row padding, planes are exactly h*w each
    fr = rng.integers(0, 256, size=(4, 6, 7, 3), dtype=np.uint8)
    b = encode_y4m(fr, fps=25)
    assert b.startswith(b"YUV4MPEG2 W7 H6 F25:1")
    assert np.array_equal(decode_y4m(b), fr)
    # selective frame decode (header walk is metadata-only)
    sel = decode_y4m(b, [3, 1])
    assert np.array_equal(sel[0], fr[3]) and np.array_equal(sel[1], fr[1])
    # subsampled colorspace -> NotImplementedError (honest boundary:
    # chroma upsampling needs ffmpeg)
    with pytest.raises(NotImplementedError):
        decode_y4m(b.replace(b"C444", b"C420", 1))
    # non-Y4M bytes -> ValueError
    with pytest.raises(ValueError):
        decode_y4m(b"JUNK" + b[4:])


def test_video_container_sniff_in_decode_payload():
    import numpy as np

    from autoprepad_spark.operators.multimodal import (
        _decode_payload, encode_avi, encode_y4m,
    )

    fr = np.arange(2 * 4 * 4 * 3, dtype=np.int64).astype(np.uint8).reshape(2, 4, 4, 3)
    a = _decode_payload(encode_avi(fr), "video", fake=False)
    y = _decode_payload(encode_y4m(fr), "video", fake=False)
    # both containers demux to the same element values
    assert np.array_equal(a, y)
    assert a.size == 2 * 4 * 4 * 3


def test_synth_media_arith_matches_formulas(spark):
    import numpy as np

    from autoprepad_spark.operators.multimodal import (
        decode_avi, decode_bmp, decode_wav, synth_media_arith,
    )

    rows = {r["media_id"]: r for r in synth_media_arith(spark, n=6).collect()}
    px = decode_bmp(bytes(rows["m-000000"]["payload"]))  # i=0: image
    h, w = px.shape[:2]
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    assert np.array_equal(px, ((0 * 31 + y * 13 + x * 7 + c * 5) % 256).astype(np.uint8))
    s = decode_wav(bytes(rows["m-000001"]["payload"]))  # i=1: audio
    j = np.arange(len(s))
    assert np.array_equal(s, (((1 * 97 + j * 31) % 65536) - 32768).astype(np.int16))
    fr = decode_avi(bytes(rows["m-000002"]["payload"]))  # i=2: video (AVI)
    nf, h, w = fr.shape[:3]
    f, y, x, c = np.ogrid[0:nf, 0:h, 0:w, 0:3]
    assert np.array_equal(
        fr, ((2 * 17 + f * 29 + y * 13 + x * 7 + c * 5) % 256).astype(np.uint8)
    )
    # i=5: video rows alternate container — this one is Y4M, same formula
    from autoprepad_spark.operators.multimodal import decode_y4m

    assert rows["m-000005"]["mime"] == "video/x-yuv4mpeg"
    fr = decode_y4m(bytes(rows["m-000005"]["payload"]))
    nf, h, w = fr.shape[:3]
    f, y, x, c = np.ogrid[0:nf, 0:h, 0:w, 0:3]
    assert np.array_equal(
        fr, ((5 * 17 + f * 29 + y * 13 + x * 7 + c * 5) % 256).astype(np.uint8)
    )


def test_image_thumbnails_resize(spark):
    import numpy as np

    from autoprepad_spark.operators.multimodal import (
        THUMB_H, THUMB_W, image_thumbnails, resize_image, synth_media,
    )

    # resize kernel: exact nearest-neighbor expectations on a 2x scale
    arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    half = resize_image(arr, 2, 3)
    assert half.shape == (2, 3, 3)
    assert np.array_equal(half[0, 0], arr[0, 0]) and np.array_equal(half[1, 2], arr[2, 4])

    media = synth_media(spark, n=9, seed=7)
    out = image_thumbnails(media).toPandas()
    assert len(out) == 3  # only image rows
    assert out["ok"].all()
    assert all(len(t) == THUMB_H * THUMB_W for t in out["thumb"])
    # deterministic across invocations
    again = image_thumbnails(synth_media(spark, n=9, seed=7)).toPandas()
    for a, b in zip(
        out.sort_values("media_id")["thumb"], again.sort_values("media_id")["thumb"]
    ):
        assert np.allclose(a, b)


def test_hash_split_exact_coverage(spark):
    """Round-3 fix: fractions summing to 1.0 must cover EVERY row (the
    old 'ffffffff' clamp orphaned digests with prefix ffffffff)."""
    from autoprepad_spark.operators.sampling import hash_split, hash_threshold

    assert hash_threshold(1.0) == "g"  # sorts after every hex digest
    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    splits = hash_split(df, [0.5, 0.3, 0.2], key_col="doc_id")
    counts = [s.count() for s in splits]
    assert sum(counts) == 20_000  # disjoint AND covering
    # pairwise disjoint
    assert splits[0].join(splits[1], "doc_id").count() == 0
    assert splits[1].join(splits[2], "doc_id").count() == 0
    # single full split keeps everything
    (full,) = hash_split(df, [1.0], key_col="doc_id")
    assert full.count() == 20_000


def test_col_histograms_cardinality_guard(spark):
    """The hist fit path must refuse unbounded domains instead of
    collecting a row-count-sized histogram to the driver."""
    import pytest as _pytest

    from autoprepad_spark.functions.stats import _col_histograms

    df = spark.range(5_000).select(
        (F.rand(seed=1) * 1e9).alias("cont")  # effectively all-distinct
    )
    with _pytest.raises(ValueError, match="approx"):
        _col_histograms(df, ["cont"], max_cells=1_000)
    # bounded domains still fine under the same ceiling
    bounded = spark.range(5_000).select((F.col("id") % 10).alias("v"))
    v, c = _col_histograms(bounded, ["v"], max_cells=1_000)["v"]
    assert len(v) == 10 and c.sum() == 5_000


def test_spearman_listwise_null_drop(spark):
    """Nulls in ANY ranked column drop the whole row BEFORE ranking —
    rho must match pandas' spearman on the dropna'd frame."""
    import pandas as pd

    from autoprepad_spark.operators.correlation import spearman_matrix

    rng = np.random.default_rng(3)
    x = rng.integers(0, 50, size=400).astype(float)
    y = (x * 2 + rng.integers(0, 10, size=400)).astype(float)
    x[::7] = np.nan  # nulls in x only
    y[::11] = np.nan  # nulls in y only
    pdf = pd.DataFrame({"a": x, "b": y})
    df = spark.createDataFrame(pdf)
    got = spearman_matrix(df, ["a", "b"]).collect()[0]["rho"]
    want = pdf.dropna().corr(method="spearman").loc["a", "b"]
    assert got == pytest.approx(float(want), abs=1e-9)


def test_minmax_scale_expression(spark):
    """A8: MinMax rescale is a pure Column expression; endpoints map to
    0/1 and interior points interpolate linearly (the AnomalyScore
    rescale in scoring.predict is this same expression)."""
    from autoprepad_spark.functions.stats import minmax_scale

    df = spark.createDataFrame(
        [(0.0,), (5.0,), (10.0,)], ["x"]
    ).select(minmax_scale(F.col("x"), 0.0, 10.0).alias("s"))
    got = sorted(r["s"] for r in df.collect())
    assert got == [0.0, 0.5, 1.0]
    # degenerate span must not divide by zero
    one = spark.createDataFrame([(3.0,)], ["x"]).select(
        minmax_scale(F.col("x"), 3.0, 3.0).alias("s")
    )
    assert one.collect()[0]["s"] is not None
