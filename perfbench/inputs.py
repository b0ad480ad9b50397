"""Seeded benchmark inputs, generated outside Spark and cached per seed.

- clips: a row-index window of the deterministic ``sources.fixtures``
  generator, written as parquet with pyarrow, plus the expected
  violation set.  The window start is a multiple of 50 (the defect
  period), so the defect mix is the same for every seed and a
  duplicate-id defect never points at a row outside the window.
- corpus: the sf0.001 tables shipped in ``perfbench/data`` with their
  row order permuted by the seed.

The expected clips violations come from two sources:

- every row-level and table-level constraint from
  ``fixtures.expected_violations``;
- ``external`` (audio payload) rows from a per-clip scalar reference
  computed here without Spark: decode → synth_pcm → snr_db, and the
  transcript compared with reference_transcript.

``fixtures.expected_violations`` also lists an ``external /bytes`` row
for every corrupted clip, but a PCM16 clip whose corruption stride is
even only has low bytes flipped and keeps SNR ≥ 30 dB, so the engine
(correctly, by its spec) does not flag it.  Those golden rows are
counted as ``golden_gap`` and reported; they are not hidden by the
choice of window.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
CORPUS_SRC = HERE / "data" / "sf0.001"
DUR_RANGE = (200, 2000)        # fixtures.clips_df default
PERIOD = 50                    # fixtures.VIOLATION_PERIOD


def _atomic_dir(final: Path, build) -> Path:
    """Build into a temp sibling, then rename: a run killed half way
    never leaves a half-written cache entry behind.  Entries of the
    same kind made for other seeds are removed first, so the cache
    holds one input of each kind however many seeds are run."""
    if final.exists():
        return final
    kind = final.name.split("-", 1)[0]
    for old in final.parent.glob(f"{kind}-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    tmp.rename(final)
    return final


def clip_window(seed: int, n: int) -> int:
    """First row index of the seed's window (multiple of the period)."""
    return PERIOD * (seed % 2000)


def clips(cache: Path, seed: int, n: int, files: int) -> tuple[Path, dict]:
    """(parquet dir, expected) for ``n`` clips starting at the seed's
    window.  ``expected`` holds the violation triples, the number of
    row-invalid clips and the golden gap."""
    off = clip_window(seed, n)
    final = cache / f"clips-n{n}-off{off}-f{files}"

    def build(tmp: Path) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from jesse_spark.sources import fixtures

        rows = [fixtures._gen_row(i, DUR_RANGE) for i in range(off, off + n)]
        cols = list(zip(*rows))
        table = pa.table({
            "clip_id": pa.array(cols[0], pa.string()),
            "bytes": pa.array(cols[1], pa.binary()),
            "sr_hz": pa.array(cols[2], pa.int32()),
            "dur_ms": pa.array(cols[3], pa.int32()),
            "codec": pa.array(cols[4], pa.string()),
            "transcript": pa.array(cols[5], pa.string()),
        })
        data = tmp / "clips"
        data.mkdir()
        step = -(-n // files)
        for k in range(files):
            part = table.slice(k * step, step)
            if part.num_rows:
                pq.write_table(part, data / f"part-{k:05d}.parquet")
        (tmp / "expected.json").write_text(json.dumps(_expected(off, n, rows)))

    _atomic_dir(final, build)
    return final / "clips", json.loads((final / "expected.json").read_text())


def _expected(off: int, n: int, rows: list[tuple]) -> dict:
    from jesse_spark.functions import audio
    from jesse_spark.sources import fixtures

    def triples(df) -> set:
        return set(map(tuple, df[["clip_id", "constraint", "path"]].to_numpy().tolist()))

    golden = (triples(fixtures.expected_violations(off + n))
              - triples(fixtures.expected_violations(off)))
    keyword = {t for t in golden if t[1] != "external"}
    invalid_rows = len({t[0] for t in keyword
                        if t[1] not in ("not_unique", "schema_not_found")})
    # the audio stage only sees clips that pass every row-level check
    external = set()
    for i, (cid, raw, sr, _dur, codec, transcript) in zip(range(off, off + n), rows):
        if fixtures._defect_kind(i) not in (None, 5, 7):
            continue
        dec = audio.decode(raw, codec)
        if audio.snr_db(audio.synth_pcm(cid, sr, len(dec)), dec) < audio.SNR_THRESHOLD_DB:
            external.add((cid, "external", "/bytes"))
        if transcript != audio.reference_transcript(cid):
            external.add((cid, "external", "/transcript"))
    golden_external = {t for t in golden if t[1] == "external"}
    return {
        "with_audio": sorted(keyword | external),
        "no_audio": sorted(keyword),
        "invalid_rows": invalid_rows,
        "golden_gap": len(golden_external - external),
        "reference_only": len(external - golden_external),
    }


def corpus(cache: Path, seed: int) -> Path:
    """The sf0.001 tables with every table's rows permuted by ``seed``."""
    import pyarrow.parquet as pq

    def build(tmp: Path) -> None:
        rng = np.random.default_rng([seed, 17])
        for src in sorted(CORPUS_SRC.glob("*.parquet")):
            t = pq.read_table(src)
            pq.write_table(t.take(rng.permutation(t.num_rows)), tmp / src.name)

    return _atomic_dir(cache / f"corpus-sf0.001-s{seed}", build)
