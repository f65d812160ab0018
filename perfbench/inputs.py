"""Seeded input generation: ensemble forecast drops.

Each drop is a 52-member (or fewer) ensemble of 41 six-hourly track
points, built like ``bench_event.gen_tracks_batch``: a NW-curving
landfalling storm with a per-drop centre shift and intensity wobble
plus per-member noise. The drop is a pure function of
``(seed, variant)``, so the same seed gives the same inputs, and the
overlapping rows of two partial drops are bit-identical (the
streaming dedup may keep either copy).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_MEMBERS = 52
N_STEPS = 41


class CheckFailed(Exception):
    """A workload's output failed its correctness check; the runner
    counts the op as failed."""


def ensemble_drop(
    seed: int,
    variant: int,
    members: int = N_MEMBERS,
    steps: int = N_STEPS,
    perturbation: float = 1.0,
) -> pd.DataFrame:
    """One drop as (ens_id, step, lat, lon, vmax, pcen, penv) rows.
    ``perturbation`` scales the centre shift, wobble and member noise;
    below 1 the drops' windfield work varies less from seed to seed.
    Negative variants (the warm-up drops) map to their own streams."""
    rng = np.random.default_rng([seed % 2**32, variant % 2**32])
    dlat = rng.uniform(-0.9, 0.9) * perturbation
    dlon = rng.uniform(-1.2, 1.2) * perturbation
    wobble = rng.uniform(-3.0, 3.0) * perturbation
    nlat = rng.uniform(-0.5, 0.5, members)[:, None] * perturbation
    nlon = rng.uniform(-0.5, 0.5, members)[:, None] * perturbation
    vnoise = rng.uniform(0.0, 4.0, members)[:, None] * perturbation
    s = np.arange(steps, dtype=np.float64)[None, :]
    q = (s - 20.0) / 16.0
    vmax = np.maximum(18.0 + 42.0 * (1.0 - q * q) + vnoise + wobble, 15.0)
    lat = 7.0 + dlat + s * 0.28 + nlat * 0.9 + s * nlat * 0.02
    lon = 138.0 + dlon - s * 0.52 + nlon * 0.9 + s * nlon * 0.02
    shape = (members, steps)
    return pd.DataFrame(
        {
            "ens_id": np.repeat(np.arange(members, dtype=np.int64), steps),
            "step": np.tile(np.arange(steps, dtype=np.int64), members),
            "lat": np.broadcast_to(lat, shape).ravel(),
            "lon": np.broadcast_to(lon, shape).ravel(),
            "vmax": vmax.ravel(),
            "pcen": (1010.0 - vmax).ravel(),
            "penv": np.full(members * steps, 1006.0),
        }
    )
