"""Seeded detector frames and the numpy oracles that check their outputs.

A frame is the synthetic powder pattern of ``tests/fixtures_images.py``
scaled to an N x N detector that covers the same physical area (pixel
size 150 um x 256 / N), so ring, arc and spot geometry in 2-theta and
azimuth do not change with N:

- six smooth powder rings;
- planted 2-D Gaussian spots away from the arc sectors;
- two texture arcs plus one arc that crosses azimuth 0/360;
- hot single pixels (count scaled with the pixel count);
- a dead (zero) block in one corner;
- slow per-frame drift, so csim against the first and previous frame
  stays high but decays.

Positions come from the seed and stay fixed across the frames of a run
(the sample does not jump between exposures); hot pixels differ per frame.
"""

from __future__ import annotations

import os

import numpy as np

from xrddatapipeline_spark.calib.geometry import (
    ImageControls,
    compute_maps_numpy,
    tth_bin_index_numpy,
)

DATASET = "bench"
RING_TTHS = (2.0, 3.5, 5.0, 7.0, 9.5, 11.5)
# (y, x, sigma) at 256 px; azimuths avoid the arc sectors below
SPOTS_256 = (
    (170, 128, 2.0), (200, 100, 1.5), (160, 60, 1.4),
    (60, 160, 1.7), (90, 170, 1.8), (40, 128, 2.4),
)
# (2-theta, azimuth from, azimuth to, 2-theta sigma); the last one wraps
ARCS = ((9.5, 40.0, 75.0, 0.04), (7.0, 200.0, 245.0, 0.04),
        (6.0, 330.0, 30.0, 0.025))


def controls(size: int) -> ImageControls:
    return ImageControls(
        wavelength=0.24087, distance=85.0, center_x=19.2, center_y=19.2,
        pixel_size_x=150.0 * 256 / size, pixel_size_y=150.0 * 256 / size,
        size_x=size, size_y=size, iotth=(1.0, 12.7), out_channels=250,
        num_chans_om=250, pola_val=0.99, esd_mul=3.0, dataset=DATASET,
    )


def make_frames(c: ImageControls, seed: int, n: int) -> list[np.ndarray]:
    size = c.size_x
    scale = size / 256
    rng = np.random.default_rng(seed)
    maps = compute_maps_numpy(c)
    tth, azim = maps["tth"], maps["azim"]
    ys, xs = np.mgrid[0:size, 0:size]

    ring_amp = 2000.0 * rng.uniform(0.8, 1.2, len(RING_TTHS))
    spots = [
        ((sy + rng.uniform(-2, 2)) * scale, (sx + rng.uniform(-2, 2)) * scale,
         ss * scale, rng.uniform(26000, 50000))
        for sy, sx, ss in SPOTS_256
    ]
    arcs = [(t, a0 + rng.uniform(-3, 3), a1 + rng.uniform(-3, 3), s)
            for t, a0, a1, s in ARCS]

    static = np.zeros((size, size))
    for amp, rt in zip(ring_amp, RING_TTHS):
        static += amp * np.exp(-((tth - rt) ** 2) / (2 * 0.15**2))
    for sy, sx, ss, amp in spots:
        static += amp * np.exp(-((ys - sy) ** 2 + (xs - sx) ** 2) / (2 * ss**2))
    for at, a0, a1, sig in arcs:
        in_azim = ((azim >= a0) & (azim <= a1) if a0 <= a1
                   else (azim >= a0) | (azim <= a1))
        static += 25000.0 * np.exp(-((tth - at) ** 2) / (2 * sig**2)) * in_azim

    n_hot = int(40 * scale * scale)
    dead = max(1, int(12 * scale))
    frames = []
    for seq in range(n):
        img = 100.0 + static * (1.0 - 0.03 * seq)
        hy = rng.integers(0, size, n_hot)
        hx = rng.integers(0, size, n_hot)
        np.add.at(img, (hy, hx), 20000.0)
        img[:dead, :dead] = 0.0
        frames.append(np.round(img).astype(np.int32))
    return frames


def image_id(seq: int) -> str:
    return f"{DATASET}-{seq:05d}"


def land(frames: list[np.ndarray], landing: str) -> None:
    """Write frames as TIFFs the way a detector writer lands them: to a
    temporary name, then renamed in, with strictly increasing mtimes so the
    file source takes them in sequence order."""
    from xrddatapipeline_spark.sources.tiff import write_tiff_gray

    os.makedirs(landing, exist_ok=True)
    for seq, img in enumerate(frames):
        final = os.path.join(landing, f"{image_id(seq)}.tif")
        tmp = os.path.join(landing, f".{image_id(seq)}.tmp")
        write_tiff_gray(tmp, img)
        os.utime(tmp, (1_600_000_000 + seq, 1_600_000_000 + seq))
        os.replace(tmp, final)


# ---- oracles (the tests/test_image_pipeline.py formulas) -----------------

def base_integral(c: ImageControls, img: np.ndarray) -> dict[int, float]:
    """Binned mean of the polarization/solid-angle corrected frame, bin 0
    being the discard bin for masked pixels: {tth_idx: mean} for nonempty
    bins."""
    maps = compute_maps_numpy(c)
    masked = img <= 0
    idx = tth_bin_index_numpy(maps["tth"], *c.iotth, c.out_channels)
    routed = np.where(masked, 0, idx).ravel()
    val = np.where(masked, 0, img / maps["pol"] * maps["dist_sq"] ** 1.5)
    sums = np.bincount(routed, weights=val.ravel(),
                       minlength=c.out_channels + 1)
    counts = np.bincount(routed, minlength=c.out_channels + 1)
    return {i: sums[i] / counts[i]
            for i in range(1, c.out_channels + 1) if counts[i]}


def outlier_count(c: ImageControls, img: np.ndarray) -> int:
    """Per-ring exact median/MAD sigma clip, rings with >= 10 pixels."""
    maps = compute_maps_numpy(c)
    ring = tth_bin_index_numpy(maps["tth"], *c.iotth, c.num_chans_om)
    cand = (img > 0) & (ring > 0)
    n = 0
    for r in np.unique(ring[cand]):
        v = img[cand & (ring == r)].astype(float)
        if v.size < 10:
            continue
        med = np.median(v)
        mad = np.median(np.abs(v - med))
        n += int((np.abs(v - med) > c.esd_mul * 1.4826 * mad).sum())
    return n


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    a = a.ravel().astype(float)
    b = b.ravel().astype(float)
    return float(a @ b / np.sqrt((a @ a) * (b @ b)))
