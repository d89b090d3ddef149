"""Driver-side kernel timings: the engine's public codec and source
functions called directly on a fixed seeded sample, median of repeats."""

from __future__ import annotations

import datetime
import statistics
import time

import numpy as np

REPS = 7


def _median_s(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_metrics(seed: int) -> dict[str, float]:
    from activity_files_spark.codecs import flac, image, ogg
    from activity_files_spark.data import images
    from activity_files_spark.sources import fit, gpx, tcx

    from perfbench import inputs

    r = np.random.default_rng([seed, 10])
    out = {}

    # 6 images, two per format, at the pipeline's representative sizes
    off = inputs.image_offset(seed)
    rows = [images.make_image_row(off + i, dims=inputs.IMAGE_DIMS) for i in range(6)]
    refs = [images.pixels_for(images.image_index(x["image_id"]), x["w"], x["h"]) for x in rows]

    def decode_validate():
        for row, ref in zip(rows, refs):
            px = image.decode(row["bytes"], row["fmt"])
            image.psnr_db(px, ref)
            image.phash64(px)

    out["codecs.image.decode_validate_us"] = _median_s(decode_validate) / len(rows) * 1e6

    # a 4000-sample stereo triangle clip, as the audio queries synthesize
    t = np.arange(4000, dtype=np.int64)
    left = np.abs((t * int(r.integers(137, 1000))) % 8192 - 4096) - 2048
    clip = np.stack([left, ((t % 5) - 2) * 64 - left], axis=1).astype(np.int16)
    flac_bytes = flac.encode_flac(clip, 8000, block_size=500)
    ogg_bytes = ogg.encode_ogg_flac(clip, 8000, block_size=500)
    out["codecs.flac.parse_ms"] = _median_s(lambda: flac.parse_flac(flac_bytes)) * 1e3
    out["codecs.ogg.parse_ogg_flac_ms"] = _median_s(lambda: ogg.parse_ogg_flac(ogg_bytes)) * 1e3

    # one 500-point activity with a heart-rate channel
    t0 = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=int(r.integers(0, 86400)))
    lat = 40.0 + np.cumsum(r.uniform(-1e-4, 1e-4, 500))
    lon = -105.0 + np.cumsum(r.uniform(-1e-4, 1e-4, 500))
    pts = [{"seq": i, "ts": t0 + datetime.timedelta(seconds=i), "lat": float(lat[i]),
            "lon": float(lon[i]), "ele": 1600.0 + i % 7, "attrs": {}} for i in range(500)]
    # channels are keyed by the point timestamp's ISO string
    chans = {p["ts"].isoformat(): {"heart_rate": float(120 + i % 40)} for i, p in enumerate(pts)}
    gpx_xml = gpx.encode_gpx(pts, chans)
    fit_bytes = fit.encode_fit(pts, chans, [])
    out["sources.gpx.encode_ms"] = _median_s(lambda: gpx.encode_gpx(pts, chans)) * 1e3
    out["sources.tcx.encode_ms"] = _median_s(lambda: tcx.encode_tcx(pts, {}, [])) * 1e3
    out["sources.fit.encode_ms"] = _median_s(lambda: fit.encode_fit(pts, chans, [])) * 1e3
    out["sources.gpx.parse_ms"] = _median_s(lambda: gpx.parse_gpx("a", gpx_xml)) * 1e3
    out["sources.fit.parse_ms"] = _median_s(lambda: fit.parse_fit("a", fit_bytes)) * 1e3
    return out
