"""CLI end-to-end (convert/validate/tile via main()) + multimodal plumbing."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from activity_files_spark.operators.multimodal import (
    audio_features,
    decode_audio,
    decode_video_frame,
    sample_frames,
    synth_audio,
    synth_video,
)


@pytest.fixture
def input_dir(tmp_path, spark):
    from tests.test_sources_roundtrip import SAMPLE_GPX, SAMPLE_TCX

    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.gpx").write_text(SAMPLE_GPX)
    (d / "b.tcx").write_text(SAMPLE_TCX)
    from activity_files_spark.sources.fit import encode_fit
    from tests.test_fit_detect import PTS, mk_channels

    (d / "c.fit").write_bytes(encode_fit(PTS, mk_channels(), []))
    return str(d)


def test_cli_convert_gpx(spark, input_dir, tmp_path, capsys):
    from activity_files_spark.cli import main

    out = str(tmp_path / "out")
    rc = main(["convert", "--input", input_dir, "--from", "auto", "--to", "gpx",
               "--output", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["converted"] == 3
    enc = spark.read.parquet(out)
    assert enc.count() == 3
    xml = enc.collect()[0]["xml"]
    assert xml.startswith('<?xml') and "<trkpt" in xml


def test_cli_validate(spark, input_dir, tmp_path, capsys):
    from activity_files_spark.cli import main

    rep = str(tmp_path / "report")
    rc = main(["validate", "--input", input_dir, "--report", rep])
    assert rc == 0
    diags = spark.read.parquet(rep)
    assert "code" in diags.columns


def test_cli_tile_with_manifest(spark, tmp_path, capsys):
    from activity_files_spark.cli import main
    from activity_files_spark.data.images import synth_images

    imgs = str(tmp_path / "images")
    synth_images(spark, 20, partitions=2).write.parquet(imgs)
    out = str(tmp_path / "tiles")
    man = str(tmp_path / "ckpt")
    gf = str(tmp_path / "gf.json")
    with open(gf, "w") as f:
        json.dump([{"geofence_id": "g0", "ring": [
            [-105.2, 40.0], [-104.9, 40.0], [-104.9, 40.3], [-105.2, 40.3]]}], f)
    rc = main(["tile", "--images", imgs, "--resolutions", "8,12", "--output", out,
               "--manifest", man, "--geofences", gf, "--validate"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["tiles"] == 40
    assert res["invalid_images"] == 0
    assert res["pip_rows"] > 0
    tiles = spark.read.parquet(out)
    assert set(r["zoom"] for r in tiles.select("zoom").distinct().collect()) == {8, 12}
    assert os.path.exists(os.path.join(man, "tiles.json"))


def test_audio_plumbing(spark):
    aud = synth_audio(spark, 8)
    feats = {r["clip_id"]: r for r in audio_features(aud).collect()}
    assert len(feats) == 8
    for r in feats.values():
        assert 0 < r["rms"] < 20001 and 0 < r["peak"] <= 20000


def test_audio_real_codec_stubbed():
    with pytest.raises(NotImplementedError):
        decode_audio(b"\x00" * 16, "mp3", 8, 1)


def test_video_frame_sampling(spark):
    vid = synth_video(spark, 4, w=8, h=6, n_frames=5)
    frames = sample_frames(vid, every=2).collect()
    # frames 0, 2, 4 per clip
    assert len(frames) == 12
    fr = [f for f in frames if f["clip_id"] == "vid_00000001" and f["frame_idx"] == 2][0]
    px = np.frombuffer(bytes(fr["frame_bytes"]), dtype=np.uint8).reshape(6, 8, 3)
    # matches the generator formula: r = (x + f + i) % 256 at f=2, i=1
    assert px[0, 0, 0] == 3 and px[0, 5, 0] == 8


def test_video_real_codec_stubbed():
    # mp3 is the one remaining stub; every video container is REAL now
    # (mkv/webm via codecs/mkv.py — compressed CodecIDs stay stubbed at
    # pixel-decode time, tests/test_mkv.py). Bad files raise ValueError.
    with pytest.raises(ValueError):  # webm decodes for real now: bad file
        decode_video_frame(b"", "webm", 8, 6, 0)
    with pytest.raises(ValueError):  # mp4 decodes for real now: bad file
        decode_video_frame(b"", "mp4", 8, 6, 0)


def test_y4m_c444_roundtrip_byte_exact(spark):
    """REAL YUV4MPEG2 codec: C444 planes survive encode -> binary -> decode
    byte-for-byte, and the container plugs into the distributed frame
    pipeline (sample_frames chunk-walks FRAME markers)."""
    from activity_files_spark.operators.multimodal import encode_y4m, parse_y4m

    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(4, 6, 8, 3), dtype=np.uint8)
    blob = encode_y4m(frames, fps=(25, 1), colorspace="C444")
    assert blob.startswith(b"YUV4MPEG2 W8 H6 F25:1 ")
    back, meta = parse_y4m(blob)
    assert meta == {"w": 8, "h": 6, "fps_num": 25, "fps_den": 1,
                    "colorspace": "C444", "n_frames": 4}
    assert np.array_equal(back, frames)
    # and through the Spark plumbing: every-2 sampling over the container
    vid = spark.createDataFrame(
        [("c0", bytearray(blob), 8, 6, 25.0, 4, "y4m")],
        "clip_id string, bytes binary, w int, h int, fps double, "
        "n_frames long, fmt string",
    )
    out = {r["frame_idx"]: r for r in sample_frames(vid, every=2).collect()}
    assert set(out) == {0, 2}
    got = np.frombuffer(bytes(out[2]["frame_bytes"]), np.uint8).reshape(6, 8, 3)
    assert np.array_equal(got, frames[2])


def test_y4m_c420_upsample_and_mono():
    """4:2:0 chroma upsamples by exact 2x2 replication; Cmono replicates
    luma into all three channels; decode_video_frame routes 'y4m'."""
    from activity_files_spark.operators.multimodal import (
        encode_y4m,
        parse_y4m,
    )

    y = np.arange(2 * 4 * 6, dtype=np.uint8).reshape(2, 4, 6)
    u = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    v = (u + 100).astype(np.uint8)
    blob = encode_y4m((y, u, v), fps=(30, 1), colorspace="C420jpeg")
    back, meta = parse_y4m(blob)
    assert meta["colorspace"] == "C420jpeg" and meta["n_frames"] == 2
    assert np.array_equal(back[..., 0], y)
    for yy in range(4):
        for xx in range(6):
            assert back[1, yy, xx, 1] == u[1, yy // 2, xx // 2]
            assert back[1, yy, xx, 2] == v[1, yy // 2, xx // 2]
    frame1 = decode_video_frame(blob, "y4m", 6, 4, 1)
    assert np.array_equal(frame1, back[1])
    mono = encode_y4m(y, colorspace="Cmono")
    mback, mmeta = parse_y4m(mono)
    assert mmeta["colorspace"] == "Cmono"
    assert np.array_equal(mback[..., 0], y) and np.array_equal(mback[..., 2], y)


def test_y4m_header_tolerance_and_errors():
    """Header parameters in any order with X extensions and FRAME
    parameters are tolerated (real encoders emit them); malformed payloads
    raise; unimplemented colorspaces are honest NotImplementedError."""
    from activity_files_spark.operators.multimodal import encode_y4m, parse_y4m

    planes = b"\x01" * (4 * 2) * 3  # C444 2x4? -> W4 H2: y/u/v 8 bytes each
    blob = (b"YUV4MPEG2 C444 XCOLORRANGE=FULL H2 F24:1 W4 Ip A128:117\n"
            b"FRAME Xsome=param\n" + planes)
    frames, meta = parse_y4m(blob)
    assert meta["w"] == 4 and meta["h"] == 2 and meta["fps_num"] == 24
    assert frames.shape == (1, 2, 4, 3) and (frames == 1).all()
    # default colorspace (no C token) is C420 per spec
    sub = b"\x02" * (4 * 2) + b"\x03" * 2 + b"\x04" * 2
    dblob = b"YUV4MPEG2 W4 H2 F30:1\nFRAME\n" + sub
    dframes, dmeta = parse_y4m(dblob)
    assert dmeta["colorspace"] == "C420" and dframes[0, 1, 3, 1] == 3
    with pytest.raises(ValueError):
        parse_y4m(b"MPEG4 nope")
    with pytest.raises(ValueError):
        parse_y4m(b"YUV4MPEG2 W4 H2 C444\nFRAME\n" + b"\x00" * 5)  # truncated
    with pytest.raises(ValueError):
        parse_y4m(b"YUV4MPEG2 W4 H2 C444\nBADMARKER\n" + b"\x00" * 24)
    with pytest.raises(NotImplementedError):
        parse_y4m(b"YUV4MPEG2 W4 H2 C422\nFRAME\n" + b"\x00" * 16)
    with pytest.raises(ValueError):
        encode_y4m(np.zeros((1, 3, 5), dtype=np.uint8), colorspace="C444")
    with pytest.raises(ValueError):  # odd dims under 4:2:0
        encode_y4m(
            (np.zeros((1, 3, 5), dtype=np.uint8),
             np.zeros((1, 1, 2), dtype=np.uint8),
             np.zeros((1, 1, 2), dtype=np.uint8)),
            colorspace="C420jpeg",
        )


def test_cli_convert_includes_csv_and_flags_unknown(spark, tmp_path, capsys):
    from activity_files_spark.cli import main

    d = tmp_path / "raw2"
    d.mkdir()
    (d / "a.csv").write_text(
        "timestamp,latitude,longitude,elevation,heart_rate\n"
        "2024-03-01T10:00:00Z,40.0,-105.0,1600.0,140\n"
        "2024-03-01T10:00:10Z,40.0005,-105.0005,1601.0,142\n"
    )
    (d / "junk.bin").write_bytes(b"\x01\x02 not a known format \x03")
    out = str(tmp_path / "out2")
    rep = str(tmp_path / "rep2")
    rc = main(["convert", "--input", str(d), "--from", "auto", "--to", "gpx",
               "--output", out])
    assert rc == 0
    import json as _json

    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["converted"] >= 1
    enc = {r["activity_id"]: r["xml"] for r in spark.read.parquet(out).collect()}
    csv_xml = [x for k, x in enc.items() if k.endswith("a.csv")]
    assert csv_xml and "<trkpt" in csv_xml[0] and "gpxtpx:hr>140" in csv_xml[0]
    # unknown file surfaces as a diagnostic through validate
    rc = main(["validate", "--input", str(d), "--report", rep])
    diags = {r["code"] for r in spark.read.parquet(rep).collect()}
    assert "detect.unknown_format" in diags


def test_wav_codec_roundtrip(spark):
    """REAL RIFF/WAVE PCM16 encode/decode: synth PCM -> wav bytes -> parse
    gives identical samples; a distributed audio_features pass over wav-fmt
    clips matches the rawpcm16 features exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from activity_files_spark.operators.multimodal import (
        AUDIO_SCHEMA,
        decode_audio,
        encode_wav,
        parse_wav,
        synth_audio,
    )

    t = np.arange(2000)
    samples = (np.sin(2 * np.pi * 440 * t / 8000) * 12345).astype(np.int16)
    stereo = np.stack([samples, -samples], axis=1)
    blob = encode_wav(stereo, 8000)
    back, sr = parse_wav(blob)
    assert sr == 8000
    assert np.array_equal(back, stereo)
    # decode_audio routes wav for real (no NotImplementedError)
    assert np.array_equal(decode_audio(blob, "wav", 2000, 2), stereo)

    # distributed: re-encode the synth clips as wav and run features
    import pandas as pd

    from activity_files_spark.operators.multimodal import audio_features

    aud = synth_audio(spark, 6)

    def to_wav(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                pcm = np.frombuffer(bytes(r.bytes), dtype="<i2").reshape(
                    r.n_samples, r.channels
                )
                rows.append({
                    "clip_id": r.clip_id, "bytes": encode_wav(pcm, r.sample_rate),
                    "sample_rate": r.sample_rate, "n_samples": r.n_samples,
                    "channels": r.channels, "fmt": "wav",
                })
            yield pd.DataFrame(rows)

    wav_clips = aud.mapInPandas(to_wav, AUDIO_SCHEMA)
    f_raw = {r["clip_id"]: r for r in audio_features(aud).collect()}
    f_wav = {r["clip_id"]: r for r in audio_features(wav_clips).collect()}
    assert set(f_raw) == set(f_wav)
    for cid in f_raw:
        assert f_raw[cid]["rms"] == f_wav[cid]["rms"]
        assert f_raw[cid]["peak"] == f_wav[cid]["peak"]
        assert f_raw[cid]["zcr"] == f_wav[cid]["zcr"]


def test_wav_codec_rejects_non_pcm(spark):
    import struct

    import numpy as np
    import pytest

    from activity_files_spark.operators.multimodal import encode_wav, parse_wav

    blob = bytearray(encode_wav(np.zeros((4, 1), dtype=np.int16), 8000))
    struct.pack_into("<H", blob, 20, 3)  # audio_format = IEEE float
    with pytest.raises(NotImplementedError):
        parse_wav(bytes(blob))
    with pytest.raises(ValueError):
        parse_wav(b"OggS" + bytes(40))


def test_cli_convert_encoding_latin1(spark, tmp_path):
    """--encoding decodes text inputs with the named charset (reference
    bin 'encoding' option): a latin-1 GPX with a non-ASCII waypoint name
    round-trips the character instead of mojibake."""
    from activity_files_spark.cli import main

    xml = (
        '<?xml version="1.0"?>\n'
        '<gpx version="1.1" creator="t" '
        'xmlns="http://www.topografix.com/GPX/1/1">\n'
        '<wpt lat="40.0" lon="-105.0"><name>Führer</name></wpt>\n'
        "<trk><trkseg>\n"
        '<trkpt lat="40.0" lon="-105.0"><time>2024-01-10T07:00:00Z</time></trkpt>\n'
        '<trkpt lat="40.01" lon="-105.0"><time>2024-01-10T07:00:10Z</time></trkpt>\n'
        "</trkseg></trk></gpx>\n"
    )
    d = tmp_path / "enc"
    d.mkdir()
    (d / "a.gpx").write_bytes(xml.encode("latin-1"))
    out = str(tmp_path / "enc_out")
    rc = main(["convert", "--input", str(d), "--from", "gpx", "--to", "gpx",
               "--output", out, "--encoding", "latin1"])
    assert rc == 0
    got = spark.read.parquet(out).first()["xml"]
    assert "Führer" in got
    with pytest.raises(SystemExit, match="unsupported --encoding"):
        main(["convert", "--input", str(d), "--from", "gpx", "--to", "gpx",
              "--output", out, "--encoding", "klingon"])
    # charset names are case-insensitive ("UTF-8", "Latin1" are standard)
    rc = main(["convert", "--input", str(d), "--from", "gpx", "--to", "gpx",
               "--output", out, "--encoding", "Latin1"])
    assert rc == 0


def test_cli_convert_gpx_precision_options(spark, tmp_path):
    """Encoder options pass through the CLI (bin/activity_files.dart:313-330):
    --precision-latlon/--precision-ele control the GPX coordinate format."""
    from activity_files_spark.cli import main

    xml = (
        '<?xml version="1.0"?>\n'
        '<gpx version="1.1" creator="t" xmlns="http://www.topografix.com/GPX/1/1">\n'
        "<trk><trkseg>"
        '<trkpt lat="40.1234567" lon="-105.7654321"><ele>1600.456</ele>'
        "<time>2024-01-10T07:00:00Z</time></trkpt>"
        "</trkseg></trk></gpx>\n"
    )
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.gpx").write_text(xml)
    rc = main([
        "convert", "--input", str(d), "--from", "auto", "--to", "gpx",
        "--output", str(tmp_path / "out"),
        "--precision-latlon", "4", "--precision-ele", "1",
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "out")).first()["xml"]
    assert 'lat="40.1235"' in out and 'lon="-105.7654"' in out
    assert "<ele>1600.5</ele>" in out


@pytest.mark.parametrize("fmt", ["gpx", "tcx", "geojson", "fit", "csv"])
def test_cli_convert_every_format_reads_back(spark, tmp_path, fmt):
    """Every `convert --to` branch encodes the fixture's points, and the
    target format's own parser reads them back."""
    from activity_files_spark.cli import main
    from activity_files_spark.sources.decode import decode_records
    from activity_files_spark.sources.records import points_of
    from tests.test_sources_roundtrip import EXPECTED_PTS, SAMPLE_GPX

    d = tmp_path / "in"
    d.mkdir()
    (d / "a.gpx").write_text(SAMPLE_GPX)
    out = str(tmp_path / "out")
    rc = main(["convert", "--input", str(d), "--from", "auto", "--to", fmt,
               "--output", out])
    assert rc == 0
    # the payload column each encoder writes
    col = {"gpx": "xml", "tcx": "xml", "geojson": "text", "fit": "payload",
           "csv": "text"}[fmt]
    back = decode_records(spark.read.parquet(out), fmt=fmt, payload_col=col)
    rows = points_of(back).collect()
    got = sorted(((r["lat"], r["lon"], r["ele"], str(r["ts"])) for r in rows),
                 key=lambda t: t[3])
    assert len(got) == len(EXPECTED_PTS)
    for g, e in zip(got, EXPECTED_PTS):
        # FIT stores lat/lon as semicircles: equal to ~1e-7 degrees
        assert g[:3] == pytest.approx(e[:3], abs=1e-6) and g[3] == e[3]


def test_cli_convert_fit_to_fit_keeps_lap_summaries(spark, tmp_path):
    """A FIT -> FIT convert writes each lap's summary fields back."""
    from activity_files_spark.cli import main
    from activity_files_spark.sources.decode import decode_records
    from activity_files_spark.sources.fit import encode_fit
    from tests.test_fit_detect import PTS, mk_channels

    summary = {"total_timer_s": "61.5", "avg_hr": "150", "max_speed_mps": "4.25",
               "extra.33": "7"}
    laps = [{"lap_id": 0, "start_ts": PTS[0]["ts"], "end_ts": PTS[-1]["ts"],
             "distance_m": 123.4, "sport": "running", "attrs": summary}]
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.fit").write_bytes(encode_fit(PTS, mk_channels(), laps))
    out = str(tmp_path / "out")
    rc = main(["convert", "--input", str(d), "--from", "fit", "--to", "fit",
               "--output", out])
    assert rc == 0
    back = decode_records(spark.read.parquet(out), fmt="fit", payload_col="payload")
    lap = back.filter(F.col("kind") == "lap").collect()
    assert len(lap) == 1
    assert summary.items() <= dict(lap[0]["attrs"]).items()


def test_cli_loader_reads_each_file_once(spark, tmp_path):
    """The CLI loader scans its input once and decodes every file in one
    Python pass: one binaryFile scan, one MapInPandas, no per-column Arrow
    UDFs, whatever mix of formats the directory holds."""
    import argparse

    from activity_files_spark.cli import _load_records
    from tests.test_sources_roundtrip import SAMPLE_GPX, SAMPLE_TCX

    d = tmp_path / "in"
    d.mkdir()
    (d / "a.gpx").write_text(SAMPLE_GPX)
    (d / "b.tcx").write_text(SAMPLE_TCX)
    rec = _load_records(spark, argparse.Namespace(
        input=str(d), from_fmt="auto", encoding="utf8"))
    assert rec.filter(F.col("kind") == "point").count() == 6
    rec.collect()
    plan = rec._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan binaryFile") == 1
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan


def test_snap_channels_to_points_tolerance(spark):
    """Encoder channel association (channel_mapper.dart): a clock-skewed HR
    sample within tolerance snaps to the nearest point ts; one beyond
    tolerance is dropped; aligned samples are identity-mapped."""
    import pandas as pd

    from activity_files_spark.operators.asof import snap_channels_to_points

    t0 = pd.Timestamp("2024-01-10 07:00:00").to_pydatetime()

    def t(s):
        return (pd.Timestamp("2024-01-10 07:00:00") + pd.Timedelta(seconds=s)).to_pydatetime()

    points = spark.createDataFrame(
        [("a", t0, 40.0, -105.0), ("a", t(10), 40.001, -105.0)],
        "activity_id string, ts timestamp, lat double, lon double",
    )
    channels = spark.createDataFrame(
        [("a", t(0), "heart_rate", 140.0),   # aligned -> identity
         ("a", t(12), "heart_rate", 150.0),  # skew 2s -> snaps to t=10
         ("a", t(40), "heart_rate", 160.0)], # 30s from nearest -> dropped
        "activity_id string, ts timestamp, channel string, value double",
    )
    out = snap_channels_to_points(points, channels, default_tol_s=5.0)
    rows = {(str(r["ts"]), r["value"]) for r in out.collect()}
    assert rows == {
        ("2024-01-10 07:00:00", 140.0),
        ("2024-01-10 07:00:10", 150.0),
    }
