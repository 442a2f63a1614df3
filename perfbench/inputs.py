"""Seeded benchmark inputs and their on-disk cache.

Every input depends only on (workload, seed, rows) and on this file's
source.  The program under test only ever sees the files written here; the
expected outputs computed alongside them (injected reject counts, the
indicator reference, per-symbol tick counts) stay with the benchmark.

Cache entries live under ``<root>/.perfbench/cache/<key>`` where the key
hashes the workload, seed, row count and this module's source.  An entry is
written by a separate Python process into a temporary directory and renamed
into place, and its row count is re-checked on every reuse, so a
half-written or stale entry is never mistaken for the workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Mirrors the package's generator (sources/generator.py): weighted symbol
# table and per-symbol start prices.
SYMBOLS = [
    ("RELIANCE", 2456.75, 3),
    ("TCS", 3890.50, 3),
    ("INFY", 1567.25, 2),
    ("HDFC", 1678.90, 2),
    ("WIPRO", 456.80, 1),
    ("ICICIBANK", 987.45, 1),
    ("BAJFINANCE", 7234.60, 1),
    ("HCLTECH", 1345.70, 1),
    ("AXISBANK", 1098.35, 1),
    ("SBIN", 623.85, 1),
]
EPOCH_NS = 1_698_208_500_000_000_000
TRADE_COLUMNS = [
    "trade_id", "order_id", "timestamp", "symbol", "price", "volume",
    "side", "type", "is_pro",
]

# One share of the trades breaks exactly one validation rule each, spread
# evenly over V1..V6 in rule order; the first failing rule is then the
# injected one, so the reject count is known exactly.
INVALID_SHARE = 0.02
RULES = ("V1", "V2", "V3", "V4", "V5", "V6")
# Tick frames: a share is corrupt JSON (dead letters) and a share parses
# but fails the hot-path filter (volume 0).
CORRUPT_SHARE = 0.01
FILTERED_SHARE = 0.005

MAX_ENTRIES_PER_KIND = 3

_CACHE_SALT = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:16]


def cache_key(kind: str, seed: int, rows: int, salt: str = _CACHE_SALT) -> str:
    """Directory name of a cache entry: changes with any of its inputs."""
    h = hashlib.sha256(f"{kind}|{seed}|{rows}|{salt}".encode()).hexdigest()
    return f"{kind}-{seed}-{rows}-{h[:12]}"


class InputCache:
    """Generated inputs under ``root``, keyed by :func:`cache_key`."""

    def __init__(self, root: Path):
        self.root = Path(root)

    def get(self, kind: str, seed: int, rows: int, build, count_rows,
            salt: str = _CACHE_SALT) -> tuple[Path, dict, bool]:
        """Return (entry dir, meta, reused).

        ``build(dir, seed, rows) -> meta`` writes a fresh entry; ``meta``
        must hold ``rows``.  ``count_rows(dir) -> int`` re-counts a reused
        entry; on a mismatch the entry is rebuilt.
        """
        return self.begin(kind, seed, rows, build, count_rows, salt)()

    def begin(self, kind: str, seed: int, rows: int, build, count_rows,
              salt: str = _CACHE_SALT):
        """Start :meth:`get`: a missing entry starts building in a new
        Python process at once, so ``build`` must be picklable.  Returns the
        call that waits for it and returns what :meth:`get` returns."""
        self.root.mkdir(parents=True, exist_ok=True)
        final = self.root / cache_key(kind, seed, rows, salt)
        meta_path = final / "meta.json"
        if meta_path.is_file():
            meta = json.loads(meta_path.read_text())
            if meta.get("rows") == rows and count_rows(final) == rows:
                os.utime(final)
                return lambda: (final, meta, True)
            shutil.rmtree(final)
        tmp = Path(tempfile.mkdtemp(prefix=f"tmp-{kind}-", dir=self.root))
        # A plain child process rather than multiprocessing, which would
        # also leave its resource-tracker process running until exit.
        child = subprocess.Popen([sys.executable, "-c", _CHILD], stdin=subprocess.PIPE)
        with child.stdin:
            pickle.dump(sys.path, child.stdin)
            pickle.dump((build, tmp, seed, rows), child.stdin)

        def finish():
            try:
                if child.wait() != 0:
                    raise RuntimeError(f"{kind}: generator exited with {child.returncode}")
                meta = json.loads((tmp / "meta.json").read_text())
                if meta["rows"] != rows or count_rows(tmp) != rows:
                    raise RuntimeError(f"{kind}: generator wrote the wrong row count")
                os.rename(tmp, final)
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            self._evict(kind, keep=final)
            return final, meta, False

        return finish

    def _evict(self, kind: str, keep: Path) -> None:
        entries = sorted(
            (p for p in self.root.glob(f"{kind}-*") if p != keep),
            key=lambda p: p.stat().st_mtime,
            reverse=True,
        )
        for p in entries[MAX_ENTRIES_PER_KIND - 1:]:
            shutil.rmtree(p, ignore_errors=True)


# The generator process: this process's import path, then the call.
_CHILD = (
    "import pickle, sys; sys.path[:0] = pickle.load(sys.stdin.buffer); "
    "from perfbench import inputs; inputs._write_meta(*pickle.load(sys.stdin.buffer))"
)


def _write_meta(build, out: Path, seed: int, rows: int) -> None:
    """The body of the generator process: its memory is returned to the
    system before anything is measured."""
    (out / "meta.json").write_text(json.dumps(build(out, seed, rows)))


# --- trades ---------------------------------------------------------------


def _trade_arrays(rng: np.random.Generator, rows: int) -> dict[str, np.ndarray]:
    names = np.array([s for s, _, _ in SYMBOLS])
    weights = np.array([w for _, _, w in SYMBOLS], dtype=float)
    sym_idx = rng.choice(len(SYMBOLS), size=rows, p=weights / weights.sum())
    steps = rng.normal(0.0, 0.5, size=rows)
    price = np.empty(rows)
    for k, (_, start, _) in enumerate(SYMBOLS):
        idx = np.flatnonzero(sym_idx == k)
        walk = start + np.cumsum(steps[idx])
        price[idx] = np.round(np.clip(walk, 50.0, 99999.0), 2)
    i = np.arange(rows, dtype=np.int64)
    return {
        "trade_id": 1_000_000 + i,
        "order_id": 2_000_000 + i,
        "timestamp": EPOCH_NS + i * 27_500 + rng.integers(0, 22_501, rows),
        "symbol": names[sym_idx].astype(object),
        "price": price,
        "volume": rng.integers(10, 5001, rows).astype(np.int32),
        "side": np.where(rng.random(rows) < 0.5, "B", "S").astype(object),
        "type": rng.choice(np.array(["M", "L", "I"]), size=rows,
                           p=[0.3, 0.6, 0.1]).astype(object),
        "is_pro": (rng.random(rows) < 0.2).astype(np.int32),
    }


def _inject_invalid(rng: np.random.Generator, cols: dict, rows: int) -> dict:
    """Break exactly one rule on a seeded INVALID_SHARE of rows."""
    n_bad = int(rows * INVALID_SHARE)
    bad = rng.choice(rows, size=n_bad, replace=False)
    rule_of = np.arange(n_bad) % len(RULES)
    for r, rule in enumerate(RULES):
        rows_r = bad[rule_of == r]
        if rule == "V1":
            cols["symbol"][rows_r] = "bad_sym"
        elif rule == "V2":
            cols["price"][rows_r] = -1.0
        elif rule == "V3":
            cols["volume"][rows_r] = 0
        elif rule == "V4":
            cols["side"][rows_r] = "X"
        elif rule == "V5":
            cols["type"][rows_r] = "Z"
        else:
            cols["timestamp"][rows_r] = 0
    valid = np.ones(rows, dtype=bool)
    valid[bad] = False
    return {
        "valid_mask": valid,
        "rejects_by_rule": {
            rule: int((rule_of == r).sum()) for r, rule in enumerate(RULES)
        },
    }


def indicator_reference(cols: dict, valid: np.ndarray, period: int) -> dict:
    """Last-`period` SMA/RSI and whole-history VWAP per symbol over the
    valid rows, ordered by (timestamp, trade_id): the pipeline's exact
    indicator semantics, computed independently."""
    out = {}
    sym = cols["symbol"][valid]
    ts = cols["timestamp"][valid]
    tid = cols["trade_id"][valid]
    price = cols["price"][valid]
    vol = cols["volume"][valid].astype(np.float64)
    for name in sorted(set(sym.tolist())):
        m = sym == name
        order = np.lexsort((tid[m], ts[m]))
        p = price[m][order]
        n = len(p)
        eff = min(period, n)
        n_changes = min(eff, n - 1)
        changes = np.diff(p)[-n_changes:] if n_changes > 0 else np.array([])
        gain = changes[changes > 0].sum() / n_changes if n_changes else 0.0
        loss = -changes[changes < 0].sum() / n_changes if n_changes else 0.0
        if n < 2 or eff <= 1:
            rsi = 50.0
        elif loss == 0.0:
            rsi = 100.0
        else:
            rsi = 100.0 - 100.0 / (1.0 + gain / loss)
        v = vol[m]
        out[name] = {
            "sma": float(p[-eff:].mean()),
            "rsi": float(rsi),
            "vwap": float((price[m] * v).sum() / v.sum()) if v.sum() else 0.0,
            "period": eff,
        }
    return out


def build_trades(out: Path, seed: int, rows: int, n_files: int = 8,
                 period: int = 5) -> dict:
    """`rows` trades in `n_files` CSV files with injected invalid rows."""
    rng = np.random.default_rng([seed, 1])
    cols = _trade_arrays(rng, rows)
    inj = _inject_invalid(rng, cols, rows)
    (out / "csv").mkdir()
    bounds = np.linspace(0, rows, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        table = pa.table({c: cols[c][lo:hi] for c in TRADE_COLUMNS})
        pacsv.write_csv(table, out / "csv" / f"part-{f:03d}.csv",
                        pacsv.WriteOptions(quoting_style="none"))
    n_rejected = int((~inj["valid_mask"]).sum())
    return {
        "rows": rows,
        "n_valid": rows - n_rejected,
        "n_rejected": n_rejected,
        "rejects_by_rule": inj["rejects_by_rule"],
        "period": period,
        "indicators": indicator_reference(cols, inj["valid_mask"], period),
    }


def count_csv_rows(entry: Path) -> int:
    n = 0
    for f in sorted((entry / "csv").glob("*.csv")):
        with open(f, "rb") as fh:
            lines = sum(buf.count(b"\n") for buf in iter(lambda: fh.read(1 << 20), b""))
        n += lines - 1  # header
    return n


# --- tick frames ----------------------------------------------------------


def _frame_strings(rng: np.random.Generator, rows: int) -> tuple[pa.Array, dict]:
    cols = _trade_arrays(rng, rows)
    r = rng.random(rows)
    corrupt = r < CORRUPT_SHARE
    filtered = (r >= CORRUPT_SHARE) & (r < CORRUPT_SHARE + FILTERED_SHARE)
    cols["volume"][filtered] = 0

    def text(name):
        return pc.cast(pa.array(cols[name]), pa.string())

    def quoted(name):
        return pc.binary_join_element_wise('"', pa.array(cols[name]), '"', "")

    parts = [
        '{"trade_id":', text("trade_id"), ',"order_id":', text("order_id"),
        ',"timestamp":', text("timestamp"), ',"symbol":', quoted("symbol"),
        ',"price":', text("price"), ',"volume":', text("volume"),
        ',"side":', quoted("side"), ',"type":', quoted("type"),
        ',"is_pro":', pa.array(np.where(cols["is_pro"] == 1, "true", "false")),
        ',"exchange":"WSS"}',
    ]
    frames = pc.binary_join_element_wise(*parts, "").to_numpy(zero_copy_only=False)
    # a corrupt frame is a truncated one, as a dropped socket leaves it
    for k in np.flatnonzero(corrupt):
        frames[k] = frames[k][: 10 + k % 20]
    good = ~corrupt & ~filtered
    sym, vol = cols["symbol"], cols["volume"]
    counts = {}
    for name in sorted(set(sym[good].tolist())):
        m = good & (sym == name)
        counts[name] = [int(m.sum()), int(vol[m].astype(np.int64).sum())]
    return pa.array(frames, pa.string()), {
        "n_corrupt": int(corrupt.sum()),
        "n_filtered": int(filtered.sum()),
        "symbol_counts": counts,
    }


def build_frames(out: Path, seed: int, rows: int, rows_per_file: int) -> dict:
    """`rows` JSON tick frames as parquet files of `rows_per_file` frames,
    one string column `value`, named in delivery order."""
    rng = np.random.default_rng([seed, 2])
    frames, meta = _frame_strings(rng, rows)
    (out / "frames").mkdir()
    file_rows = []
    for f, lo in enumerate(range(0, rows, rows_per_file)):
        chunk = frames.slice(lo, rows_per_file)
        pq.write_table(pa.table({"value": chunk}), out / "frames" / f"f{f:06d}.parquet")
        file_rows.append(len(chunk))
    meta.update(rows=rows, file_rows=file_rows)
    return meta


def count_frame_rows(entry: Path) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in sorted((entry / "frames").glob("*.parquet"))
    )
