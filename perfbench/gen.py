"""Seeded Debezium change-log generator for the benchmark.

Writes JSONL files of ``{"value": <envelope json>, "seq": n}`` rows,
the shape ``CdcPipeline`` reads from its file source, and computes the
final mirror state the engine must reach: the last change per key in
``(ts_ms, seq)`` order, with deletes removing the key. The program
under test only ever sees the files; this module never imports it.

The record is ``customerId long, name string, email string, city
string, zipcode long`` (``RECORD_DDL``), the record of the package's
own stream generator (``streaming/bench.py``), with its value sets:
``city`` has ``N_CITIES`` values, ``zipcode`` spans ``ZIP_LO..ZIP_HI``.
Zipf-skewed keys use exponent ``ZIPF_S``, the exponent-1 Zipf
profile of ``tools/gen_scale.py``.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

RECORD_DDL = "customerId long, name string, email string, city string, zipcode long"
KEY = "customerId"
N_CITIES = 997
ZIP_LO, ZIP_HI = 10_000, 10_000 + 89_998
ZIPF_S = 1.0
OPS = ("c", "u", "d")


def city(i: int) -> str:
    return f"city-{i}"


class ChangeLog:
    """Generates change events and tracks the state they lead to.

    ``mix`` is the c/u/d probability triple. Keys are drawn from
    ``0..keyspace-1``, uniformly or Zipf-skewed with exponent
    ``zipf_s`` (key 0 hottest). Ops are drawn independently of the
    keys, as the engine's semantics are last-writer-wins per key: a
    ``u`` on an absent key inserts it and a ``d`` on an absent key is
    a no-op. ``ts_ms`` advances every fourth event, so ties are
    broken by ``seq``.
    """

    def __init__(
        self,
        seed: int,
        keyspace: int,
        mix: tuple[float, float, float] = (0.5, 0.3, 0.2),
        skew: str = "uniform",
        zipf_s: float = ZIPF_S,
    ) -> None:
        if skew not in ("uniform", "zipf"):
            raise ValueError(f"skew must be 'uniform' or 'zipf', got {skew!r}")
        if abs(sum(mix) - 1.0) > 1e-9:
            raise ValueError(f"op mix must sum to 1, got {mix}")
        self.rng = np.random.default_rng(seed)
        self.keyspace = keyspace
        self.mix = np.asarray(mix, dtype=float)
        self._key_p = None
        if skew == "zipf":
            w = 1.0 / np.arange(1, keyspace + 1, dtype=float) ** zipf_s
            self._key_p = w / w.sum()
        self.state: dict[int, dict] = {}
        self.seq = 0
        self.n_files = 0
        self._mtime_ns = 0

    def _keys(self, n: int) -> np.ndarray:
        return self.rng.choice(self.keyspace, size=n, p=self._key_p)

    def sample_keys(self, rng: np.random.Generator, n: int) -> list[int]:
        """``n`` distinct keys drawn with the change log's key skew, so
        reads hit the keys writes hit."""
        return [int(k) for k in rng.choice(self.keyspace, size=n, replace=False, p=self._key_p)]

    def _row(self, k: int, name_ver: int, city_i: int, zipcode: int) -> dict:
        return {
            KEY: k,
            "name": f"name-{k}-{name_ver}",
            "email": f"u{k}@example.com",
            "city": city(city_i),
            "zipcode": zipcode,
        }

    def events(self, n: int) -> list[tuple[str, dict | None, dict | None, int, int]]:
        """Draw ``n`` events ``(op, before, after, ts_ms, seq)`` and
        apply them to :attr:`state`."""
        keys = self._keys(n)
        ops = self.rng.choice(3, size=n, p=self.mix)
        cities = self.rng.integers(0, N_CITIES, size=n)
        zips = self.rng.integers(ZIP_LO, ZIP_HI + 1, size=n)
        out = []
        for i in range(n):
            k = int(keys[i])
            seq = self.seq + i
            ts_ms = 1_700_000_000_000 + seq // 4
            op = OPS[ops[i]]
            if op == "d":
                before = self.state.pop(k, None) or self._row(k, seq, 0, ZIP_LO)
                out.append(("d", before, None, ts_ms, seq))
            else:
                after = self._row(k, seq, int(cities[i]), int(zips[i]))
                self.state[k] = after
                out.append((op, None, after, ts_ms, seq))
        self.seq += n
        return out

    def write(self, out_dir: str, n: int, file_events: int) -> list[str]:
        """Append ``n`` events to ``out_dir`` as files of at most
        ``file_events`` lines each; returns the new file paths in
        order. File names sort in generation order, which is the
        order the file source picks them up in."""
        os.makedirs(out_dir, exist_ok=True)
        paths = []
        left = n
        while left > 0:
            m = min(file_events, left)
            path = os.path.join(out_dir, f"part-{self.n_files:06d}.jsonl")
            with open(path, "w") as f:
                for op, before, after, ts_ms, seq in self.events(m):
                    env = {
                        "payload": {
                            "before": before, "after": after, "op": op, "ts_ms": ts_ms,
                        }
                    }
                    f.write(json.dumps({"value": json.dumps(env), "seq": seq}))
                    f.write("\n")
            # the file source orders new files by modification time
            # (millisecond resolution); make it strictly follow
            # generation order so batches apply in event order
            self._mtime_ns = max(time.time_ns(), self._mtime_ns + 1_000_000)
            os.utime(path, ns=(self._mtime_ns, self._mtime_ns))
            paths.append(path)
            self.n_files += 1
            left -= m
        return paths

    def write_expected(self, path: str) -> int:
        """Write the current expected mirror state as JSONL; returns
        its row count."""
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for k in sorted(self.state):
                f.write(json.dumps(self.state[k]))
                f.write("\n")
        return len(self.state)
