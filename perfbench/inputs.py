"""Seeded benchmark inputs, built once per seed without Spark.

Fixture content is a pure function of ``(conv_id, turn_idx)``
(``pdf_ocr_api_spark.fixtures``), so a seed selects which range of
conversation ids is generated: seed ``s`` covers ids
``[s * ID_STRIDE, s * ID_STRIDE + n_convs)``, and the first id of the range
is the hot conversation holding ``HOT_FRAC`` of the turns, as in
``fixtures.fixture_frame``. The library is not changed.

Two tables, each written as parquet with a fixed file count (so Spark's
split sizing is the same for every seed) when a workload first needs it:

* ``transcripts`` - the plain fixture mix (seven payload kinds, one hot
  conversation); ``extract_job`` and ``records`` read it.
* ``dups`` - a smaller fixture table plus seeded exact copies and
  one-word-edited near copies of its prose turns; ``clean_corpus`` reads it.
  Without the copies the exact-dedup, verify and connected-components
  stages would have almost nothing to do.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_ocr_api_spark import fixtures

ID_STRIDE = 1_000_000
AVG_TURNS = 12
HOT_FRAC = 0.2
N_FILES = 16

TRANSCRIPT_CONVS = 500
DUP_BASE_CONVS = 300
EXACT_COPY_FRAC = 0.15
NEAR_COPY_FRAC = 0.15
NEAR_MIN_WORDS = 24

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        # tz-aware micros: Spark reads it as TIMESTAMP, like the
        # Spark-generated fixture table
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def fixture_rows(seed: int, n_convs: int) -> list[dict]:
    """The fixture table for ``n_convs`` conversations of this seed's id range."""
    first = seed * ID_STRIDE
    hot_conv = fixtures.conv_name(first)
    hot_turns = int(n_convs * AVG_TURNS * HOT_FRAC / (1 - HOT_FRAC))
    rows = []
    for i in range(first, first + n_convs):
        cid = fixtures.conv_name(i)
        for t in range(fixtures.n_turns_for(cid, AVG_TURNS, hot_conv, hot_turns)):
            row = fixtures.gen_turn(cid, t)
            rows.append({k: row[k] for k in fixtures.TRANSCRIPT_COLUMNS} | {"gen_kind": row["gen_kind"]})
    return rows


def with_copies(seed: int, rows: list[dict]) -> list[dict]:
    """``rows`` plus seeded exact copies and one-word-edited near copies.

    Copies live in their own conversations (``dup-...``), which sort after
    ``conv-...``, so the dedup keeper of each family is the original turn.
    A near copy replaces one word of a prose turn of at least
    ``NEAR_MIN_WORDS`` words, which keeps its 3-shingle Jaccard similarity
    to the original well above the 0.7 verify threshold.
    """
    rng = random.Random(f"perfbench-dups:{seed}")
    n = len(rows)
    exact = rng.sample(range(n), int(n * EXACT_COPY_FRAC))
    prose = [i for i, r in enumerate(rows) if r["gen_kind"] == "plain" and len(r["text"].split()) >= NEAR_MIN_WORDS]
    near = rng.sample(prose, min(len(prose), int(n * NEAR_COPY_FRAC)))
    out = list(rows)
    for k, i in enumerate(exact):
        out.append(_copy(rows[i], f"dup-{seed}-e{k // AVG_TURNS:05d}", k % AVG_TURNS, rows[i]["text"]))
    for k, i in enumerate(near):
        lines = rows[i]["text"].split("\n")
        li = rng.choice([j for j, line in enumerate(lines) if len(line.split()) >= 3])
        words = lines[li].split()
        wi = rng.randrange(len(words))
        words[wi] = "x" + words[wi][::-1]
        lines[li] = " ".join(words)
        out.append(_copy(rows[i], f"dup-{seed}-n{k // AVG_TURNS:05d}", k % AVG_TURNS, "\n".join(lines)))
    return out


def _copy(row: dict, conv_id: str, turn_idx: int, text: str) -> dict:
    return {**row, "conv_id": conv_id, "turn_idx": turn_idx, "text": text}


def write_table(rows: list[dict], path: Path) -> None:
    """Write ``rows`` as ``N_FILES`` parquet files, in generation order."""
    path.mkdir(parents=True)
    cols = {name: [r[name] for r in rows] for name in SCHEMA.names}
    table = pa.table(cols, schema=SCHEMA)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")


BUILDERS = {
    "transcripts": lambda seed: fixture_rows(seed, TRANSCRIPT_CONVS),
    "dups": lambda seed: with_copies(seed, fixture_rows(seed, DUP_BASE_CONVS)),
}


def prepare(seed: int, root: Path, table: str) -> dict:
    """Build (or reuse) one of this seed's tables under ``root``.

    Returns the table's path and its row and conversation counts (as
    ``<table>``, ``n_<table>`` and ``n_<table>_convs``). A table is written
    under a temporary name and renamed into place, so an interrupted build
    is never reused; the cache directory names the table sizes, so a
    resized table is never mistaken for a cached one.
    """
    seed_dir = root / f"seed-{seed}-t{TRANSCRIPT_CONVS}-d{DUP_BASE_CONVS}"
    path = seed_dir / table
    if not path.is_dir():
        tmp = seed_dir / f".{table}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        rows = BUILDERS[table](seed)
        write_table(rows, tmp)
        # Spark skips files whose names start with "_"
        meta = {"rows": len(rows), "convs": len({r["conv_id"] for r in rows})}
        (tmp / "_meta.json").write_text(json.dumps(meta))
        tmp.rename(path)
    meta = json.loads((path / "_meta.json").read_text())
    return {
        table: str(path),
        f"n_{table}": meta["rows"],
        f"n_{table}_convs": meta["convs"],
    }
