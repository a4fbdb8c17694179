"""``etl_incremental``: the paper's batch ETL, window after window.

Set-up pins the seed's start height with provider-watermark rows and
backfills a cold lake (all eight stage calls) and replays one batch;
this is also the warm-up. Each cycle of the timed region is

- one ``window``: ~100 new blocks through E1+E2 for blocks, block-tx,
  tx and utxo, called the way the CLI calls them (``blocks`` /
  ``block-tx`` self-schedule off the watermarks, ``full-tx`` takes
  the explicit window), only ``batch`` sized down from 2000;
- two ``replay`` ops: each re-lands the window's raw ``transactions``
  batch with fresh modification times, and E2 re-merges rows whose
  keys all exist already.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from datetime import datetime, timezone

from perfbench.gen import BlockfrostGenerator
from perfbench.harness import median, plain
from perfbench.trace import table_bytes, table_rows

TABLES = (
    "cardano_blocks",
    "cardano_block_transactions",
    "cardano_transactions",
    "cardano_tx_output_amount",
    "cardano_tx_utxo",
    "cardano_tx_utxo_input",
    "cardano_tx_utxo_input_amount",
    "cardano_tx_utxo_output",
    "cardano_tx_utxo_output_amount",
)

#: (raw zone, watermark name in both ledgers)
ZONES = (
    ("blocks", "cardano_blocks"),
    ("block_transactions", "cardano_block_transactions"),
    ("transactions", "cardano_transactions"),
    ("transaction_utxo", "cardano_transactions_utxo"),
)

#: foreign-key anti-joins that must come back empty (DuckDB over the
#: table files, outside the timed region)
FK_CHECKS = {
    "tx->block": "SELECT count(*) FROM cardano_transactions t ANTI JOIN cardano_blocks b ON t.block_height = b.height",
    "block_tx->block": "SELECT count(*) FROM cardano_block_transactions t ANTI JOIN cardano_blocks b ON CAST(t.block AS BIGINT) = b.height",
    "listed tx->tx": "SELECT count(*) FROM (SELECT unnest(tx_hash) AS h FROM cardano_block_transactions) l ANTI JOIN cardano_transactions t ON l.h = t.hash",
    "output_amount->tx": "SELECT count(*) FROM cardano_tx_output_amount a ANTI JOIN cardano_transactions t ON a.hash = t.hash",
    "utxo->tx": "SELECT count(*) FROM cardano_tx_utxo u ANTI JOIN cardano_transactions t ON u.hash = t.hash",
    "input->utxo": "SELECT count(*) FROM cardano_tx_utxo_input i ANTI JOIN cardano_tx_utxo u ON i.hash = u.hash",
    "output->utxo": "SELECT count(*) FROM cardano_tx_utxo_output o ANTI JOIN cardano_tx_utxo u ON o.hash = u.hash",
    "input_amount->input": "SELECT count(*) FROM cardano_tx_utxo_input_amount a ANTI JOIN cardano_tx_utxo_input i ON a.parent_id = i.id",
    "output_amount->output": "SELECT count(*) FROM cardano_tx_utxo_output_amount a ANTI JOIN cardano_tx_utxo_output o ON a.parent_id = o.id",
}


#: replays per cycle; one E2 re-merge is ~2 s
REPLAYS = 2

STAGES = (
    "e1_blocks e1_block_tx e1_tx e1_utxo e2_blocks e2_block_tx e2_tx e2_utxo e2_replay"
).split()


class EtlIncremental:
    name = "etl_incremental"
    main = "window"
    side = "replay"

    def __init__(self, spark, work: str, seed: int, sizes: dict, transport=None):
        from cardano_spark.pipelines import cardano

        self.cardano = cardano
        self.sizes = sizes
        self.gen = BlockfrostGenerator(seed)
        self.transport = transport or self.gen
        self.transport.attach_counters(spark.sparkContext)
        self.lake = cardano.CardanoLake(spark, os.path.join(work, "lake"))
        self.end = self.gen.start_height - 1
        self.replays = 0
        self.replay_inserted: list[int] = []
        #: rows handed to the merge sinks (``lake.last_load_counts``)
        self.rows_offered = 0
        self._marks = (0, 0, 0)

    # ----------------------------------------------------------- set-up
    def setup(self) -> None:
        # the child pipelines' dependency gates start at the program's
        # default height when they have no row of their own, so every
        # provider ledger gets the seed's start
        for _, name in ZONES:
            self.lake.provider_wm.upsert(name, self.end)
        self.window(self.sizes["backfill_blocks"])
        # the first replay runs several times slower than the next ones
        self.replay()

    # --------------------------------------------------------------- ops
    def window_calls(self, n_blocks: int):
        """The eight stage calls of one window, in dependency order,
        as (span name, thunk)."""
        c, lake, t = self.cardano, self.lake, self.transport
        start = self.end + 1
        end = self.end + n_blocks
        return [
            ("cardano.e1_blocks", lambda: c.blocks_to_raw(lake, t, batch=n_blocks)),
            ("cardano.e2_blocks", lambda: c.raw_blocks_to_table(lake)),
            ("cardano.e1_block_tx", lambda: c.block_transactions_to_raw(lake, t, batch=n_blocks)),
            ("cardano.e2_block_tx", lambda: c.raw_block_transactions_to_table(lake)),
            ("cardano.e1_tx", lambda: c.transactions_to_raw(lake, t, start_block=start, end_block=end)),
            ("cardano.e2_tx", lambda: c.raw_transactions_to_table(lake)),
            ("cardano.e1_utxo", lambda: c.tx_utxo_to_raw(lake, t, start_block=start, end_block=end)),
            ("cardano.e2_utxo", lambda: c.raw_tx_utxo_to_tables(lake)),
        ], end

    def window(self, n_blocks: int | None = None, run=None) -> None:
        calls, end = self.window_calls(n_blocks or self.sizes["window_blocks"])
        for name, thunk in calls:
            self._offered((run or plain)(name, thunk), name)
        self.end = end

    def _offered(self, result, name: str) -> None:
        if result is not None and ".e2_" in name:
            self.rows_offered += sum(self.lake.last_load_counts.values())

    def _relanding(self) -> str:
        """Copy the latest window's raw ``transactions`` batch to a new
        batch directory: a redelivery with fresh modification times.
        Always the latest window's, so every replay re-merges the same
        number of rows."""
        zone = self.lake.raw_zone("transactions")
        src = os.path.join(zone, max((d for d in os.listdir(zone) if d.isdigit()), key=int))
        self.replays += 1
        dst = os.path.join(zone, f"{os.path.basename(src)}r{self.replays}")
        os.makedirs(dst)
        for f in glob.glob(os.path.join(src, "part-*")):
            shutil.copyfile(f, os.path.join(dst, os.path.basename(f)))
        return dst

    def replay(self, run=None) -> None:
        self._relanding()
        before = self._rows(("cardano_transactions", "cardano_tx_output_amount"))
        self._offered(
            (run or plain)(
                "cardano.e2_replay", lambda: self.cardano.raw_transactions_to_table(self.lake)
            ),
            "cardano.e2_replay",
        )
        after = self._rows(("cardano_transactions", "cardano_tx_output_amount"))
        self.replay_inserted.append(after - before)

    def cycle(self):
        """One cycle of the timed region: (kind, op) pairs, each op
        taking the harness's ``run(span_name, thunk)``."""
        replay = (self.side, lambda run: self.replay(run=run))
        return [(self.main, lambda run: self.window(run=run))] + [replay] * REPLAYS

    # ---------------------------------------------------------- accounting
    def _rows(self, tables) -> int:
        return sum(table_rows(self.lake.table_path(t)) for t in tables)

    def mark(self) -> None:
        """Snapshot the running counters at the start of the traced region."""
        self._marks = (self.transport.requests.value, self.transport.attempts.value, self.rows_offered)

    def layer_metrics(self, tracer, loop, n: int) -> dict[str, float]:
        m = {}
        for s in STAGES:
            m[f"cardano.{s}_s"] = median(tracer.self_times(f"cardano.{s}"))
        m["cardano.jobs_per_window"] = loop.jobs.get(self.main, 0) / n
        reqs = self.transport.requests.value - self._marks[0]
        attempts = self.transport.attempts.value - self._marks[1]
        e1_s = sum(tracer.total(f"cardano.{s}") for s in STAGES if s.startswith("e1"))
        m["http_fetch.requests"] = reqs / n
        m["http_fetch.attempts_per_request"] = attempts / reqs if reqs else 0.0
        m["http_fetch.requests_per_s"] = reqs / e1_s if e1_s else 0.0
        for k in ("files.scan_files", "files.scan_bytes"):
            xs = tracer.samples[k]
            m[k] = sum(xs) / len(xs) if xs else 0.0
        m["transforms.build_s"] = tracer.total("transforms") / n
        offered = self.rows_offered - self._marks[2]
        m["merge.rows_offered"] = offered / n
        m["merge.insert_ratio"] = tracer.counts["merge.rows_inserted"] / offered if offered else 0.0
        buckets = [
            d for t in TABLES for d in glob.glob(os.path.join(self.lake.table_path(t), "_bucket=*"))
        ]
        files = sum(len(glob.glob(os.path.join(d, "*.parquet"))) for d in buckets)
        ledgers = glob.glob(os.path.join(self.lake.root, "_state", "*", "*.parquet"))
        m["merge.files_per_bucket"] = files / max(len(buckets), 1)
        size = sum(table_bytes(self.lake.table_path(t)) for t in TABLES)
        m["merge.table_bytes_per_row"] = size / max(self._rows(TABLES), 1)
        m["watermark.ledger_files"] = len(ledgers)
        return m

    # ------------------------------------------------------------- checks
    def check(self) -> list[str]:
        import duckdb

        errors = []
        expected = self.gen.expected_rows(self.gen.start_height, self.end)
        for t in TABLES:
            got = table_rows(self.lake.table_path(t))
            if got != expected[t]:
                errors.append(f"{t}: {got} rows, generator expects {expected[t]}")
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{self.lake.table_path(t)}/_bucket=*/*.parquet', hive_partitioning=false)"
                )
            for name, sql in FK_CHECKS.items():
                n = con.execute(sql).fetchone()[0]
                if n:
                    errors.append(f"foreign key {name}: {n} orphan rows")
            state = os.path.join(self.lake.root, "_state")
            prov = dict(
                con.execute(
                    "SELECT \"table\", max(block_height) FROM read_parquet("
                    f"'{state}/provider_to_s3_import_status/*.parquet') GROUP BY 1"
                ).fetchall()
            )
            s3db = dict(
                con.execute(
                    "SELECT \"table\", max(file_modified_date) FROM read_parquet("
                    f"'{state}/s3_to_db_import_status/*.parquet') GROUP BY 1"
                ).fetchall()
            )
        finally:
            con.close()
        for zone, name in ZONES:
            if prov.get(name) != self.end:
                errors.append(f"provider watermark {name}={prov.get(name)}, expected {self.end}")
            newest = max(
                os.stat(f).st_mtime_ns
                for f in glob.glob(os.path.join(self.lake.raw_zone(zone), "*", "part-*"))
            )
            want = datetime.fromtimestamp(newest // 10**6 / 1000, tz=timezone.utc).replace(tzinfo=None)
            got = s3db.get(name)
            if got is None or abs((got - want).total_seconds()) > 0.001:
                errors.append(f"s3->db watermark {name}={got}, newest raw file {want}")
        bad = [n for n in self.replay_inserted if n]
        if bad:
            errors.append(f"replays inserted rows: {bad}")
        return errors

    def digest(self) -> str:
        """Hash of the nine tables' contents (read from the files, not
        through Spark), without the per-batch ``created_at`` stamp: two
        runs of one seed over the same block range must agree."""
        import pandas as pd
        import pyarrow.parquet as pq

        from tools.check_correctness import canon

        h = hashlib.sha256(f"{self.gen.start_height}..{self.end}".encode())
        for t in TABLES:
            files = sorted(glob.glob(os.path.join(self.lake.table_path(t), "_bucket=*", "*.parquet")))
            if files:
                pdf = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
                h.update(repr((t, canon(pdf.drop(columns=["created_at"]))[:3])).encode())
        return h.hexdigest()[:16]
