"""Seeded input generators for the benchmark.

Two sources, both pure functions of ``seed``:

- :class:`BlockfrostGenerator`: a Blockfrost-shaped HTTP transport
  (``url -> bytes``) that answers at once but fails the first attempt
  at a seeded 2% of URLs, as a throttled provider does. Payload shapes
  follow ``tests/fake_blockfrost.py`` (FIXTURES.md §1); the seed
  changes every hash, the per-block tx count and the per-tx
  input/output fan-out. It also answers "how many rows should each
  table hold for this block range", which the ETL correctness check
  compares against.
- :func:`write_tables`: the ten analytics tables (TESTDATA.md shape:
  TPC-H-ish star schema, an ``events`` stream, ``documents`` and
  ``embeddings``) as one parquet file each, written with pyarrow so
  generation fires no Spark job. ``documents`` also feeds the corpus
  arrival drops.

The transport runs inside ``mapInPandas`` on Python workers, so this
module must import there: the benchmark puts the checkout root on
``PYTHONPATH`` before the Spark session starts.
"""

from __future__ import annotations

import hashlib
import json
import os

#: first height a seed may start at (the program's own default start)
BASE_HEIGHT = 11_292_700

#: one URL in this many fails its first attempt. No latency is
#: simulated: no recorded provider latency exists to base one on, so
#: the only wait in the fetch layer is the program's own retry backoff
#: (``sources.http_fetch.with_retry``) after these failures.
FAIL_EVERY = 50


class TransientError(RuntimeError):
    """A throttled (HTTP 429-like) answer; the next attempt succeeds."""


def _h(*parts: object) -> bytes:
    return hashlib.blake2b("|".join(map(str, parts)).encode(), digest_size=32).digest()


def _hx(n: int, *parts: object) -> str:
    out = ""
    i = 0
    while len(out) < n:
        out += _h(*parts, i).hex()
        i += 1
    return out[:n]


def _u(*parts: object) -> int:
    return int.from_bytes(_h(*parts)[:8], "big")


class BlockfrostGenerator:
    """Deterministic Blockfrost stand-in. Picklable: only plain fields
    and two optional accumulators travel to the executors."""

    def __init__(self, seed: int):
        self.seed = seed
        #: URLs that already failed once, per deserialized copy: a
        #: retry runs in the same task, so it sees the first failure
        self._failed: set[str] = set()
        #: executor-side counters (set by :meth:`attach_counters`); a
        #: plain int on this side would stay 0 because the calls run in
        #: Python workers
        self.attempts = None
        self.requests = None

    def attach_counters(self, sc) -> None:
        self.attempts = sc.accumulator(0)
        self.requests = sc.accumulator(0)

    @property
    def start_height(self) -> int:
        """Per-seed start, pinned in set-up with one provider-watermark
        row (``start_height - 1``)."""
        return BASE_HEIGHT + (self.seed % 997) * 10_000

    # ------------------------------------------------------------- payloads
    def tx_count(self, height: int) -> int:
        return _u(self.seed, "ntx", height) % 5

    def tx_hashes(self, height: int) -> list[str]:
        # height in the first 8 hex chars keeps tx/utxo payloads tied to
        # the block that listed them (same scheme as the test fixture)
        return [
            f"{height:08x}" + _hx(56, self.seed, "tx", height, i)
            for i in range(self.tx_count(height))
        ]

    def block(self, height: int) -> dict:
        return {
            "time": 1_700_000_000 + height * 20,
            "height": height,
            "hash": _hx(64, self.seed, "block", height),
            "slot": 140_000_000 + height * 20,
            "epoch": 500 + height // 21600 if height % 7 else None,
            "epoch_slot": (height * 20) % 432000,
            "slot_leader": "pool1" + _hx(50, self.seed, "leader", height % 97),
            "size": 2000 + _u(self.seed, "size", height) % 1000,
            "tx_count": self.tx_count(height),
            "output": str(3_000_000_000 + height * 1111) if height % 5 else None,
            "fees": str(170_000 + _u(self.seed, "fees", height) % 9999),
            "block_vrf": "vrf_vk1" + _hx(50, self.seed, "vrf", height),
            "op_cert": _hx(64, self.seed, "cert", height),
            "op_cert_counter": str(height % 30),
            "previous_block": _hx(64, self.seed, "block", height - 1),
            "next_block": _hx(64, self.seed, "block", height + 1),
            "confirmations": 1_000_000 - height % 1000,
        }

    def _fanout(self, tx_hash: str) -> tuple[int, int, int]:
        u = _u(self.seed, "fan", tx_hash)
        return 1 + u % 2, 1 + (u >> 4) % 3, 1 + (u >> 8) % 2

    def tx(self, tx_hash: str) -> dict:
        height = int(tx_hash[:8], 16)
        u = _u(self.seed, "txv", tx_hash)
        n_amounts = self._fanout(tx_hash)[2]
        return {
            "hash": tx_hash,
            "block": _hx(64, self.seed, "block", height),
            "block_height": height,
            "block_time": 1_700_000_000 + height * 20,
            "slot": 140_000_000 + u % 100000,
            "index": u % 10,
            "output_amount": [
                {"unit": "lovelace", "quantity": str(10_000_000 + u % 999)},
                {"unit": _hx(56, self.seed, "asset", tx_hash), "quantity": str(u % 50 + 1)},
            ][:n_amounts],
            "fees": str(160_000 + u % 5000),
            "deposit": "0",
            "size": 400 + u % 300,
            "invalid_before": None,
            "invalid_hereafter": str(150_000_000 + u % 9999),
            "utxo_count": sum(self._fanout(tx_hash)[:2]),
            "withdrawal_count": 0,
            "mir_cert_count": 0,
            "delegation_count": u % 2,
            "stake_cert_count": 0,
            "pool_update_count": 0,
            "pool_retire_count": 0,
            "asset_mint_or_burn_count": u % 3,
            "redeemer_count": 0,
            "valid_contract": bool(u % 2),
        }

    def _input_amounts(self, tx_hash: str, i: int) -> int:
        return 1 + _u(self.seed, "inamt", tx_hash, i) % 2

    def utxo(self, tx_hash: str) -> dict:
        n_in, n_out, _ = self._fanout(tx_hash)
        big = "9" * 20  # >18-digit quantity exercises Decimal(38,0)
        return {
            "hash": tx_hash,
            "inputs": [
                {
                    "address": "addr1" + _hx(50, self.seed, "in", tx_hash, i),
                    "amount": [
                        {"unit": "lovelace", "quantity": str(5_000_000 + i)},
                        {"unit": _hx(56, self.seed, "unit", tx_hash, i), "quantity": big},
                    ][: self._input_amounts(tx_hash, i)],
                    "tx_hash": _hx(64, self.seed, "prev", tx_hash, i),
                    "output_index": i,
                    "data_hash": _hx(64, self.seed, "dh", tx_hash, i) if i % 3 == 0 else None,
                    "inline_datum": None,
                    "reference_script_hash": None,
                    "collateral": i % 5 == 4,
                    "reference": False,
                }
                for i in range(n_in)
            ],
            "outputs": [
                {
                    "address": "addr1" + _hx(50, self.seed, "out", tx_hash, j),
                    "amount": [{"unit": "lovelace", "quantity": str(4_000_000 + j)}],
                    "output_index": j,
                    "data_hash": None,
                    "inline_datum": None,
                    "collateral": False,
                    "reference_script_hash": None,
                    "consumed_by_tx": _hx(64, self.seed, "consumer", tx_hash, j)
                    if j % 2 == 0
                    else None,
                }
                for j in range(n_out)
            ],
        }

    # ------------------------------------------------------------ transport
    def route(self, url: str) -> bytes:
        parts = url.rstrip("/").split("/")
        if parts[-2] == "blocks":
            return json.dumps(self.block(int(parts[-1]))).encode()
        if parts[-1] == "txs" and parts[-3] == "blocks":
            return json.dumps(self.tx_hashes(int(parts[-2]))).encode()
        if parts[-2] == "txs":
            return json.dumps(self.tx(parts[-1])).encode()
        if parts[-1] == "utxos" and parts[-3] == "txs":
            return json.dumps(self.utxo(parts[-2])).encode()
        raise ValueError(f"unroutable url: {url}")

    def __call__(self, url: str) -> bytes:
        if self.attempts is not None:
            self.attempts.add(1)
        if url not in self._failed and _u(self.seed, "fail", url) % FAIL_EVERY == 0:
            self._failed.add(url)
            raise TransientError(f"429 for {url}")
        body = self.route(url)
        if self.requests is not None:
            self.requests.add(1)
        return body

    # ------------------------------------------------------------- expected
    def expected_rows(self, start: int, end: int) -> dict[str, int]:
        """Row count each of the nine entity tables must hold once
        blocks ``[start, end]`` went through all eight stage calls."""
        n = {
            "cardano_blocks": 0,
            "cardano_block_transactions": 0,
            "cardano_transactions": 0,
            "cardano_tx_output_amount": 0,
            "cardano_tx_utxo": 0,
            "cardano_tx_utxo_input": 0,
            "cardano_tx_utxo_input_amount": 0,
            "cardano_tx_utxo_output": 0,
            "cardano_tx_utxo_output_amount": 0,
        }
        for h in range(start, end + 1):
            n["cardano_blocks"] += 1
            n["cardano_block_transactions"] += 1
            for tx in self.tx_hashes(h):
                n_in, n_out, n_amt = self._fanout(tx)
                n["cardano_transactions"] += 1
                n["cardano_tx_output_amount"] += n_amt
                n["cardano_tx_utxo"] += 1
                n["cardano_tx_utxo_input"] += n_in
                n["cardano_tx_utxo_input_amount"] += sum(
                    self._input_amounts(tx, i) for i in range(n_in)
                )
                n["cardano_tx_utxo_output"] += n_out
                n["cardano_tx_utxo_output_amount"] += n_out
        return n


# ---------------------------------------------------------------- analytics

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
_PNAME_A = "red small hot old large big green blue".split()
_PNAME_B = "plate widget ring rod bolt gear valve pipe".split()


def write_tables(dest: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten analytics tables under ``dest`` and return their
    row counts. ``scale`` 1.0 gives sf0.01's row counts (60k
    lineitem), 2000 documents and 200 embeddings."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(dest, exist_ok=True)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_ev = max(500, int(10000 * scale))
    n_docs = max(200, int(2000 * scale))
    n_emb = max(50, int(200 * scale))
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01")

    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
            ),
        }
    )
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{_PNAME_A[a]} {_PNAME_B[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    odate = t0 + rng.integers(0, 2400, n_ord) * day
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype="int64"), lines_per)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype("int32")
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype("float64")
    l_pk = rng.integers(0, n_part, n_li).astype("int64")
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": l_ok,
            "l_partkey": l_pk,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": l_ln,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900 + (l_pk % 1000) / 10) * rng.uniform(0.99, 1.01, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": (
                odate[l_ok] + rng.integers(1, 122, n_li) * day
            ).astype("datetime64[us]"),
        }
    )
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": ev_ts,
            "user_id": rng.integers(0, max(20, n_cust // 10), n_ev).astype("int64"),
            "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
            "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:  # near-duplicate: earlier doc + marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_w = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, n_w)))
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    emb = rng.normal(size=(n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    emb_tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype("int32")),
        }
    )
    counts = {}
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(dest, f"{name}.parquet"),
        )
        counts[name] = len(df)
    pq.write_table(emb_tbl, os.path.join(dest, "embeddings.parquet"))
    counts["embeddings"] = n_emb
    return counts
