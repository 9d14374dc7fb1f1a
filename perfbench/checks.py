"""Output checks, all made outside the timed windows.

- SQL requests (``adhoc_sql``, and one per ``dashboard`` block): each
  distinct statement's result against DuckDB over the same
  hive-partitioned CUR parquet; injected DDL/INSERT/CACHE statements must
  come back refused (HTTP 400).
- ``dashboard`` GETs: each response against the warm-up response for the
  same route and parameters, ignoring wall-clock fields.
- The FinOps set-up's SQL library run (and every ``materialize`` pass):
  outputs written without error, each pass's read-back (row count, cost
  sum), and the files left at the end (rows, order-insensitive), against
  DuckDB running the library SQL on the CUR.
- ``corpus``: exact-dedup groups and chunk counts against a plain-Python
  exact path; IVF recall@k against the exact top-k, with a floor.

Each ``check`` returns None when the output is right, else a one-line
description of the mismatch.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict
from statistics import mean
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

import gen

REL_TOL = 1e-9  # float sums differ only by summation order between engines
IVF_RECALL_FLOOR = 0.5
JACCARD_CONFIRM = 0.5


# --------------------------------------------------------------------- #
# value comparison                                                      #
# --------------------------------------------------------------------- #
def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def same(a, b, path: str = "") -> str | None:
    """None if ``a`` and ``b`` agree (floats to REL_TOL), else where not."""
    a, b = _norm(a), _norm(b)
    if isinstance(a, dict) and isinstance(b, dict):
        if a.keys() != b.keys():
            return f"{path}: keys {sorted(a)} != {sorted(b)}"
        for k in a:
            if (err := same(a[k], b[k], f"{path}.{k}")):
                return err
        return None
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        if len(a) != len(b):
            return f"{path}: length {len(a)} != {len(b)}"
        for i, (x, y) in enumerate(zip(a, b)):
            if (err := same(x, y, f"{path}[{i}]")):
                return err
        return None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            if (math.isnan(a) and math.isnan(b)) or math.isclose(
                    a, b, rel_tol=REL_TOL, abs_tol=1e-9):
                return None
        return f"{path}: {a!r} != {b!r}"
    return None if a == b else f"{path}: {a!r} != {b!r}"


def _untimed(v):
    """``v`` without the keys that carry wall-clock time."""
    if isinstance(v, dict):
        return {k: _untimed(x) for k, x in v.items()
                if not ("timestamp" in k or k.endswith(("_at", "_time_ms")))}
    if isinstance(v, list):
        return [_untimed(x) for x in v]
    return v


def _row_key(row: tuple) -> tuple:
    """Sort key that ignores float noise: non-floats first, floats rounded."""
    return tuple((0, round(v, 3)) if isinstance(v, float) else (1, "" if v is None else str(v))
                 for v in (_norm(x) for x in row))


def same_rows(expected: list[tuple], actual: list[tuple]) -> str | None:
    """Order-insensitive row comparison."""
    if len(expected) != len(actual):
        return f"row count {len(actual)} != expected {len(expected)}"
    return same(sorted(expected, key=_row_key), sorted(actual, key=_row_key), "rows")


def _glob(path: str) -> str:
    return "'" + os.path.join(path, "**", "*.parquet").replace("'", "''") + "'"


def duck_cur(cur_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW CUR AS SELECT * FROM read_parquet({_glob(cur_dir)}, "
                "hive_partitioning = true, hive_types = {'billing_period': VARCHAR})")
    return con


# --------------------------------------------------------------------- #
# HTTP workloads                                                        #
# --------------------------------------------------------------------- #
class HttpChecker:
    def __init__(self, cur_dir: str, warm: list[dict]):
        self.con = duck_cur(cur_dir)
        self.expected: dict[str, tuple] = {}
        self.reference: dict = {}
        for r in warm:
            if r["status"] == 200:
                self.reference.setdefault(self._key(r["req"]), r["payload"])

    @staticmethod
    def _key(req: dict) -> str:
        return gen.dump([req["path"], req["params"], req["body"]]).decode()

    def _duck(self, sql: str) -> tuple:
        if sql not in self.expected:
            cur = self.con.execute(sql)
            self.expected[sql] = ([d[0] for d in cur.description], cur.fetchall())
        return self.expected[sql]

    def check(self, rec: dict) -> str | None:
        req, status, payload = rec["req"], rec["status"], rec["payload"]
        where = f"{req['path']} {req['params'] or req['body']}"
        if req["kind"] == "refused":
            return None if status == 400 else f"{where}: not refused (HTTP {status})"
        if status != 200:
            return f"{where}: HTTP {status} {str(payload)[:200]}"
        if req["kind"] == "sql":
            cols, rows = self._duck(req["body"]["sql"])
            data = payload.get("data") or []
            if data and list(data[0]) != cols:
                return f"{where}: columns {list(data[0])} != {cols}"
            err = same_rows(rows, [tuple(d[c] for c in cols) for d in data])
            return f"{where}: {err}" if err else None
        ref = self.reference.get(self._key(req))
        if ref is None:
            return f"{where}: no warm-up reference"
        err = same(_untimed(ref), _untimed(payload))
        return f"{where}: differs from warm-up at {err}" if err else None


# --------------------------------------------------------------------- #
# materialize                                                           #
# --------------------------------------------------------------------- #
class MaterializeChecker:
    def __init__(self, ready: dict, seed: int):
        self.out_dir = ready["outputs_dir"]
        self.setup_outputs = ready["outputs"]
        self.con = duck_cur(ready["cur"])
        self.expected = {}
        for rel, sql in gen.sql_library(seed).items():
            cur = self.con.execute(sql)
            self.expected[rel] = ([d[0] for d in cur.description], cur.fetchall())

    @staticmethod
    def work(p: dict) -> float:
        return p["mb_written"]

    def check_outputs(self, outputs: dict) -> str | None:
        for rel in self.expected:
            out = outputs.get(rel, "missing")
            if out.startswith("ERROR") or out == "missing":
                return f"{rel}: {out[:200]}"
        return None

    def check(self, p: dict) -> str | None:
        if (err := self.check_outputs(p["outputs"])):
            return err
        for rel, (cols, rows) in self.expected.items():
            got = p["readback"].get(rel)
            cost = math.fsum(r[cols.index("cost")] for r in rows)
            if not got or got[0] != len(rows) or same(cost, got[1]):
                return f"{rel}: read back {got} != expected [{len(rows)}, {cost}]"
        return None

    def check_files(self) -> str | None:
        """The files the last write left, row by row (the set-up's, or the
        last materialize pass's: each pass replaces them, so earlier
        passes are checked by their read-backs)."""
        for rel, (cols, rows) in self.expected.items():
            stem = os.path.splitext(rel)[0] + ".parquet"
            cur = self.con.execute(
                f"SELECT * FROM read_parquet({_glob(os.path.join(self.out_dir, stem))}, "
                "hive_partitioning = true, hive_types_autocast = false)")
            got_cols = [d[0] for d in cur.description]
            idx = [got_cols.index(c) for c in cols]
            actual = [tuple(r[i] for i in idx) for r in cur.fetchall()]
            if (err := same_rows(rows, actual)):
                return f"{rel}: {err}"
        return None


def check_library(ready: dict, seed: int) -> list[str]:
    """The set-up's library run and the files on disk, against DuckDB."""
    lib = MaterializeChecker(ready, seed)
    return [e for e in (lib.check_outputs(lib.setup_outputs), lib.check_files()) if e]


# --------------------------------------------------------------------- #
# corpus                                                                #
# --------------------------------------------------------------------- #
def _shingles(text: str, n: int = 2) -> set:
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class CorpusChecker:
    def __init__(self, ready: dict):
        sf = ready["sf"]
        docs = pq.read_table(os.path.join(sf, "documents.parquet")).to_pydict()
        self.text = dict(zip(docs["doc_id"], docs["text"]))
        emb = pq.read_table(os.path.join(sf, "embeddings.parquet")).to_pydict()
        vecs = np.asarray(emb["embedding"], dtype=np.float64)
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        cents = np.asarray([c[1] for c in ready["cents"]], dtype=np.float64)
        self.cent_ids = np.asarray([c[0] for c in ready["cents"]])
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        self.cents = cents
        self.k, self.nprobe = ready["ivf_k"], ready["ivf_nprobe"]
        # each corpus vector's cell: best cosine, ties to the larger cid
        self.cell = self._ranked_cells(self.unit)[:, 0]

    def _ranked_cells(self, unit: np.ndarray) -> np.ndarray:
        scores = unit @ self.cents.T
        order = np.lexsort((-self.cent_ids[None, :].repeat(len(unit), 0), -scores), axis=1)
        return self.cent_ids[order]

    @staticmethod
    def work(p: dict) -> float:
        return len(p["sample"]["doc_ids"])

    def _exact_topk(self, qids: list[int], k: int) -> dict[int, set]:
        q = self.unit[qids]
        scores = q @ self.unit.T
        scores[np.arange(len(qids)), qids] = -np.inf
        return {qid: set(np.argsort(-s, kind="stable")[:k].tolist())
                for qid, s in zip(qids, scores)}

    def check(self, p: dict) -> str | None:
        ids = p["sample"]["doc_ids"]
        if sum(v[0] for v in p["text"].values()) != len(ids):
            return f"text: {p['text']} does not cover {len(ids)} docs"
        groups = defaultdict(list)
        for i in ids:
            groups[self.text[i]].append(i)
        exact = sorted([min(g), len(g)] for g in groups.values() if len(g) > 1)
        if exact != p["exact"]:
            return f"dedup: exact groups {p['exact'][:5]} != {exact[:5]}"
        chunks = 0
        for i in ids:
            n = len([t for t in self.text[i].split(" ") if t])
            chunks += 1 if n <= 64 else 1 + math.ceil((n - 64) / 48)
        if p["chunks"] != [chunks, len(ids)]:
            return f"chunking: {p['chunks']} != {[chunks, len(ids)]}"
        recall = self.recall(p)
        if recall < IVF_RECALL_FLOOR:
            return f"similarity: IVF recall@k {recall:.3f} < floor {IVF_RECALL_FLOOR}"
        return None

    def recall(self, p: dict) -> float:
        qids = p["sample"]["query_ids"]
        exact = self._exact_topk(qids, self.k)
        hits = sum(1 for q, nb, _ in p["topk"] if nb in exact[q])
        return hits / (self.k * len(qids))

    def ratios(self, passes: list[dict]) -> dict:
        """Useful-work ratios: LSH candidate pairs confirmed by the exact
        shingle Jaccard, and corpus vectors scored per IVF query."""
        cand = conf = 0
        per_query = []
        for p in passes:
            for a, b in p["pairs"]:
                sa, sb = _shingles(self.text[a]), _shingles(self.text[b])
                cand += 1
                conf += len(sa & sb) / max(1, len(sa | sb)) >= JACCARD_CONFIRM
            qids = p["sample"]["query_ids"]
            probes = self._ranked_cells(self.unit[qids])[:, :self.nprobe]
            for qid, cells in zip(qids, probes):
                scored = int(np.isin(self.cell, cells).sum())
                per_query.append(scored - int(self.cell[qid] in cells))  # never itself
        return {"operators.dedup_pair_precision": conf / cand if cand else 0.0,
                "operators.ivf_candidates_per_query": mean(per_query) if per_query else 0.0}
