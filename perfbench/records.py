"""Seeded record generator for the record_stream workload.

The records are rows of the `events` table, sampled by the workload seed.
Each record is written in three framings:

- msgpack record frames (a map with exactly the kernel's input fields),
  read by `formats.read_msgpack` with a record input type;
- msgpack scalar frames (one integer per frame), read with `Int` input.
  `formats.write_msgpack` always writes map frames, which `read_msgpack`
  rejects for a scalar input type, so this module packs frames itself;
- JSON lines with an epoch-second timestamp, for the file streams.

Every framing is split over `N_FILES` files: the stateless kernel stream
drains them one file per trigger, `N_FILES` micro-batches; the stateful
dedup drains `DEDUP_FILES_PER_TRIGGER` files per trigger, whose slower
batches then sit at the top of the batch-time distribution instead of
splitting its median. A one-file JSON split of the first `N_WARM` records
warms both stream paths before timing.

The generator keeps the rows it wrote, so the benchmark can check every
path's output against DuckDB SQL over the same rows (`ORACLE`).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

N_FILES = 16
DEDUP_FILES_PER_TRIGGER = 4
N_WARM = 500
SCALAR_MOD = 1000  # scalar frames carry event_id % SCALAR_MOD


@dataclass(frozen=True)
class Records:
    rows: list[tuple[int, float, int]]  # (id, v, ts_s) in write order
    msgpack_dir: str
    scalar_dir: str
    json_dir: str
    json_warm_dir: str

    @property
    def count(self) -> int:
        return len(self.rows)


def generate(events_parquet: str, out_dir: str, seed: int, n: int) -> Records:
    """Sample `n` events with non-NULL value by `seed` (all of them when
    there are fewer) and write them in all three framings under `out_dir`."""
    import duckdb

    from udlang_spark.sources import msgpack_codec as mp

    with duckdb.connect() as con:
        pool = con.execute(
            "SELECT event_id, value, CAST(floor(epoch(ts)) AS BIGINT) "
            "FROM read_parquet(?) WHERE value IS NOT NULL ORDER BY event_id",
            [events_parquet],
        ).fetchall()
    rows = random.Random(seed).sample(pool, min(n, len(pool)))
    rec = Records(
        rows,
        *(
            os.path.join(out_dir, d)
            for d in ("msgpack", "scalar", "json", "json_warm")
        ),
    )
    for i in range(N_FILES):
        part = rows[i::N_FILES]
        _write(rec.msgpack_dir, i, ".bin", [mp.packb({"id": r[0], "v": r[1]}) for r in part])
        _write(rec.scalar_dir, i, ".bin", [mp.packb(r[0] % SCALAR_MOD) for r in part])
        _write(rec.json_dir, i, ".json", [_json_line(r) for r in part])
    _write(rec.json_warm_dir, 0, ".json", [_json_line(r) for r in rows[:N_WARM]])
    return rec


def _json_line(r: tuple[int, float, int]) -> bytes:
    return (json.dumps({"id": r[0], "v": r[1], "ts_s": r[2]}) + "\n").encode()


def _write(d: str, i: int, ext: str, frames: list[bytes]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"part-{i:05d}{ext}"), "wb") as fh:
        fh.write(b"".join(frames))


def duck_tables(con, rec: Records) -> None:
    """Register the generated rows as DuckDB tables `gen(id, v, ts_s)` and
    `gen_scalar(value)` for the ORACLE SQL below."""
    import pyarrow as pa

    ids, vs, ts = zip(*rec.rows)
    con.register(
        "gen",
        pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "v": pa.array(vs, pa.float64()),
                "ts_s": pa.array(ts, pa.int64()),
            }
        ),
    )
    con.register(
        "gen_scalar",
        pa.table({"value": pa.array([i % SCALAR_MOD for i in ids], pa.int64())}),
    )


# TOWER_KERNEL over (id, v), as in kernels.ORACLE_TOWER.
_TOWER = (
    "CAST((id % 256) + (id % 32768) + id + CAST(trunc(v / 100.0) AS BIGINT)"
    " + id + 65662 AS BIGINT)"
)

ORACLE = {
    "msgpack_tower_json": (
        f"SELECT json_object('id', id, 'out', {_TOWER})::VARCHAR AS json FROM gen"
    ),
    "interp_spread": """
SELECT u.out FROM gen_scalar, LATERAL (
  SELECT unnest([3 * value + 1, 2 * value + 1, 10 + 2 * value, 101 + value]) AS out
) u
""",
    "interp_attempt": """
SELECT CASE WHEN value % 3 = 0 THEN -9 WHEN value > 5 THEN -7
            ELSE value * 10 END AS out
FROM gen_scalar
""",
    "stream_kernel": f"SELECT id, {_TOWER} AS out FROM gen",
    # sampled ids are distinct, so the dedup keeps every record
    "stream_dedup": "SELECT id, v, ts_s FROM gen",
}
