"""Seeded benchmark inputs, cached on disk behind a ``_SUCCESS`` marker.

Every input comes from ``sources.datagen.generate(n_convs, seed=...)``: the
same seed gives the same turns and the same golden extraction. The first
run for a (workload, size, seed) writes the turns and the goldens as
parquet under ``perfbench/.cache/``; later runs read them back. The marker
is written last, so a run killed mid-write leaves a directory that the next
run regenerates instead of trusting.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["Corpus", "load", "TURN_SCHEMA"]

#: Arrow twin of ``schema.TRANSCRIPT_SCHEMA``.
TURN_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])

_GOLDEN_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("extracted_text", pa.string()), ("fmt", pa.string()),
])


class Corpus:
    """Turns in generator (shuffled) order plus ``golden``:
    ``{(conv_id, turn_idx): (extracted_text, fmt)}``."""

    def __init__(self, turns: pa.Table, golden: dict, path: str):
        self.turns = turns
        self.golden = golden
        #: the cache directory; ``turns.parquet`` in it holds the turns
        self.path = path

    @property
    def n_turns(self) -> int:
        return self.turns.num_rows


def _generate(n_convs: int, seed: int, path: str) -> Corpus:
    from poc_document_ocr_spark.sources.datagen import generate

    data = generate(n_convs=n_convs, seed=seed)
    turns = pa.Table.from_pylist(
        [dict(zip(TURN_SCHEMA.names, t)) for t in data.turns], TURN_SCHEMA)
    return Corpus(turns, data.golden, path)


def _golden_table(golden: dict) -> pa.Table:
    keys = list(golden)
    return pa.Table.from_arrays([
        pa.array([k[0] for k in keys], pa.string()),
        pa.array([k[1] for k in keys], pa.int32()),
        pa.array([golden[k][0] for k in keys], pa.string()),
        pa.array([golden[k][1] for k in keys], pa.string()),
    ], schema=_GOLDEN_SCHEMA)


def load(cache_root: str, name: str, n_convs: int, seed: int) -> tuple[Corpus, float | None]:
    """The corpus for ``(name, n_convs, seed)``, from the cache when it is
    complete; also returns the generation time in seconds, or ``None`` on
    a cache hit."""
    path = os.path.join(cache_root, f"{name}-c{n_convs}-s{seed}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        corpus = _generate(n_convs, seed, path)
        gen_s = time.perf_counter() - t0
        os.makedirs(path)
        pq.write_table(corpus.turns, os.path.join(path, "turns.parquet"))
        pq.write_table(_golden_table(corpus.golden),
                       os.path.join(path, "golden.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
        return corpus, gen_s
    turns = pq.read_table(os.path.join(path, "turns.parquet"), schema=TURN_SCHEMA)
    g = pq.read_table(os.path.join(path, "golden.parquet")).to_pydict()
    golden = {(c, t): (x, f) for c, t, x, f in zip(
        g["conv_id"], g["turn_idx"], g["extracted_text"], g["fmt"])}
    return Corpus(turns, golden, path), None
