"""Benchmark inputs made from the seed.

Every seed gets its own sf0.1-shaped star-schema tree, written by the
repo's ``scripts/gen_perturbed_testdata.py``. The package only ever
receives the generated path.

The tree is cached under ``<work>/inputs/seed-<n>-<key>``, where the key
is a hash of the generator's source, so an edited generator never reuses
old files. A directory is built under a staging name and renamed into
place, so a half-written tree is never read.
"""

from __future__ import annotations

import hashlib
import importlib.util
import inspect
import os
import shutil
from pathlib import Path

SCALE = "0.1"


def _load_generator(root: Path):
    path = root / "scripts" / "gen_perturbed_testdata.py"
    spec = importlib.util.spec_from_file_location("gen_perturbed_testdata", path)
    if spec is None or not path.is_file():
        raise FileNotFoundError(f"testdata generator not found: {path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def star_tree(root: Path, work: Path, seed: int) -> str:
    """The seed's sf0.1 star-schema tree (generated once, then reused)."""
    gen = _load_generator(root)
    key = hashlib.md5(inspect.getsource(gen).encode()).hexdigest()[:10]
    target = work / "inputs" / f"seed-{seed}-{key}" / f"sf{SCALE}"
    if not target.is_dir():
        target.parent.mkdir(parents=True, exist_ok=True)
        stage = target.with_name(f"{target.name}.stage.{os.getpid()}")
        shutil.rmtree(stage, ignore_errors=True)
        gen.generate(str(stage), seed, scale=SCALE)
        try:
            os.rename(stage, target)
        except OSError:  # another run built it first
            shutil.rmtree(stage, ignore_errors=True)
    return str(target)
