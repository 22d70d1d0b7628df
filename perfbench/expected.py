"""Expected outputs stored with the benchmark, one file pair per scale:
``expected/<scale>.npz`` (GLM coefficient paths) and
``expected/<scale>.json`` (scalars and curation hashes). They are written
by ``python3 perfbench/run.py --record`` and depend only on the fixed base
tables, never on ``--seed``."""

from __future__ import annotations

import json
import os

import numpy as np

DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


def load(scale: str) -> dict:
    out: dict = {}
    jpath = os.path.join(DIR, f"{scale}.json")
    npath = os.path.join(DIR, f"{scale}.npz")
    if os.path.exists(jpath):
        with open(jpath) as fh:
            out.update(json.load(fh))
    if os.path.exists(npath):
        with np.load(npath) as z:
            out.update({k: z[k] for k in z.files})
    return out


def save(scale: str, values: dict) -> None:
    os.makedirs(DIR, exist_ok=True)
    arrays = {k: np.asarray(v) for k, v in values.items() if isinstance(v, np.ndarray)}
    scalars = {k: v for k, v in values.items() if not isinstance(v, np.ndarray)}
    np.savez_compressed(os.path.join(DIR, f"{scale}.npz"), **arrays)
    with open(os.path.join(DIR, f"{scale}.json"), "w") as fh:
        json.dump(scalars, fh, indent=1, sort_keys=True)
        fh.write("\n")
