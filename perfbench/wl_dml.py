"""``table_dml``: one closed-loop client issuing writes and reads against
one versioned ``operators.table_format`` table — CDC ``merge``,
merge-on-read ``delete_where`` / ``update_where``, ``append``, full
snapshot aggregates and stats-pruned key-range reads, with a
``compact`` closing every cycle.

The harness replays every operation on an in-memory model of the table
(numpy, no Spark); reads are checked against the model as they run, and
at the end the latest snapshot and one earlier version (time travel)
must equal the model's copies row for row.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from common import Op, du
import gen

from pyspark.sql import functions as F

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import table_format as tf

ROWS = 100_000
BATCH = 400
COLS = gen.DML_COLS
PAYLOAD = COLS[1:]


class Model:
    """The table as a pandas frame indexed by ``sales_key``."""

    def __init__(self, cols: dict[str, np.ndarray]):
        self.df = pd.DataFrame(cols).set_index("sales_key", drop=False)

    def upsert(self, rows: pd.DataFrame) -> None:
        rows = rows.set_index("sales_key", drop=False)
        self.df = pd.concat([self.df.drop(rows.index, errors="ignore"), rows])

    def delete(self, mask) -> int:
        n = int(mask.sum())
        self.df = self.df[~mask]
        return n

    def snapshot(self) -> pd.DataFrame:
        return self.df.sort_index()[COLS].reset_index(drop=True)


class TableDml:
    NAME = "table_dml"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.t = ctx.tracer
        self.root = os.path.join(ctx.out_dir, "sales_table")
        self.next_key = ROWS
        self.commit_bytes: list[int] = []
        self.rows_changed = 0
        self.merge_rewrites: list[int] = []
        self.skips: list[float] = []
        self.travel = None

    def setup(self) -> None:
        ctx = self.ctx
        base = gen.dml_base(ctx.seed, ROWS)
        path = os.path.join(ctx.data_dir, "sales.parquet")
        gen.write_parquet(gen.dml_table(base), path)
        self.model = Model(base)
        with self.t.span("table_format.create"):
            tf.create_table(self.spark, self.root, self.spark.read.parquet(path),
                            files=8, sort_by="sales_key")
        self.row_bytes = du(self.root) / ROWS
        ctx.sizes[self.NAME] = {"initial_rows": ROWS, "batch_rows": BATCH,
                                "initial_table_bytes": du(self.root)}
        # one read and one merge before timing (plan caches, codegen)
        self._read_full()
        st = self._prep_merge(gen.rng(ctx.seed, 50, 10**6))
        self._merge(st)
        self._replay_merge(st)
        self.merge_rewrites.clear()
        self.root_bytes = du(self.root)

    # -- commits: prepare (untimed) -> engine call (timed) -> replay (untimed)
    def _frame(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf)

    def _new_rows(self, r, n: int) -> pd.DataFrame:
        new = pd.DataFrame(gen.dml_base(int(r.integers(0, 2**31)), n))
        new["sales_key"] = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return new[COLS]

    def _prep_merge(self, r) -> dict:
        df = self.model.df
        n_upd, n_del = BATCH // 2, BATCH // 8
        keys = r.choice(df.index.to_numpy(), n_upd + n_del, replace=False)
        upd = df.loc[keys[:n_upd], COLS].copy()
        upd["quantity"] = r.integers(1, 51, n_upd).astype(np.int32)
        upd["amount"] = np.round(r.uniform(1.0, 5000.0, n_upd), 2)
        new = self._new_rows(r, BATCH - n_upd - n_del)
        dele = df.loc[keys[n_upd:], COLS]
        feed = pd.concat(
            [upd.assign(op="U"), new.assign(op="I"), dele.assign(op="D")], ignore_index=True
        )
        feed["seq"] = np.arange(len(feed), dtype=np.int64)
        feed["tb"] = np.zeros(len(feed), dtype=np.int64)
        return {"feed": feed, "upsert": pd.concat([upd, new]), "delete": keys[n_upd:]}

    def _merge(self, st: dict) -> None:
        with self.t.span("table_format.merge"):
            st["version"] = tf.merge(self.spark, self.root, self._frame(st["feed"]),
                                     "sales_key", PAYLOAD, "seq", "tb", files=2)

    def _replay_merge(self, st: dict) -> int:
        self.merge_rewrites.append(len(tf.read_manifest(self.root, st["version"])["removes"]))
        self.model.upsert(st["upsert"])
        self.model.delete(self.model.df.index.isin(st["delete"]))
        return len(st["feed"])

    def _prep_delete(self, r) -> dict:
        lo = int(r.integers(0, self.next_key - 2000))
        return {"lo": lo, "hi": lo + 1999}

    def _delete(self, st: dict) -> None:
        with self.t.span("table_format.delete"):
            tf.delete_where(self.spark, self.root,
                            f"sales_key BETWEEN {st['lo']} AND {st['hi']} AND quantity <= 10")

    def _replay_delete(self, st: dict) -> int:
        df = self.model.df
        return self.model.delete(
            (df.sales_key >= st["lo"]) & (df.sales_key <= st["hi"]) & (df.quantity <= 10)
        )

    def _prep_update(self, r) -> dict:
        return {"customer": int(r.integers(0, 1500))}

    def _update(self, st: dict) -> None:
        with self.t.span("table_format.update"):
            tf.update_where(self.spark, self.root, f"customer_key = {st['customer']}",
                            {"quantity": "quantity + 1"})

    def _replay_update(self, st: dict) -> int:
        mask = self.model.df.customer_key == st["customer"]
        self.model.df.loc[mask, "quantity"] += 1
        return int(mask.sum())

    def _prep_append(self, r) -> dict:
        return {"rows": self._new_rows(r, BATCH)}

    def _append(self, st: dict) -> None:
        with self.t.span("table_format.append"):
            tf.append(self.spark, self.root, self._frame(st["rows"]), files=1)

    def _replay_append(self, st: dict) -> int:
        self.model.upsert(st["rows"])
        return BATCH

    def _prep_compact(self, r) -> dict:
        return {}

    def _compact(self, st: dict) -> None:
        with self.t.span("table_format.compact"):
            tf.compact(self.spark, self.root, files=8, sort_by="sales_key")

    def _replay_compact(self, st: dict) -> int:
        return 0

    # -- reads -----------------------------------------------------------------
    def _read_full(self):
        with self.t.span("table_format.read"):
            row = tf.read_version(self.spark, self.root).agg(
                F.count("*"), F.sum("quantity"), F.sum("amount")
            ).first()
        return tuple(row)

    def _read_pruned(self, lo: int, hi: int):
        with self.t.span("table_format.pruned_read"):
            row = (
                tf.read_version(self.spark, self.root, where={"sales_key": (lo, hi)})
                .filter(F.col("sales_key").between(lo, hi))
                .agg(F.count("*"), F.sum("quantity"))
                .first()
            )
        return tuple(row)

    # -- operations ----------------------------------------------------------
    def cycle(self, k: int) -> list[Op]:
        r = gen.rng(self.ctx.seed, 50, k)
        order = ["merge", "read", "delete", "pruned", "update", "append", "compact"]
        return [self._op(kind, r) for kind in order]

    def _op(self, kind: str, r) -> Op:
        st: dict = {}
        if kind == "read":
            def read():
                st["got"] = self._read_full()
                return 0

            def check_read(_):
                df = self.model.df
                exp = (len(df), int(df.quantity.sum()), float(df.amount.sum()))
                got = st["got"]
                if got[:2] != exp[:2] or not np.isclose(got[2], exp[2], rtol=1e-9):
                    raise AssertionError(f"full read {got} != model {exp}")

            return Op("table_format.read", "query", read, check_read)
        if kind == "pruned":
            def prep_pruned():
                st["lo"] = int(r.integers(0, self.next_key - 5000))
                st["hi"] = st["lo"] + 4999

            def pruned():
                st["got"] = self._read_pruned(st["lo"], st["hi"])
                return 0

            def check_pruned(_):
                lo, hi = st["lo"], st["hi"]
                if self.t.enabled:
                    sel, total = tf.snapshot_files(self.root, where={"sales_key": (lo, hi)})
                    self.skips.append((total - len(sel)) / total)
                df = self.model.df
                m = (df.sales_key >= lo) & (df.sales_key <= hi)
                exp = (int(m.sum()), int(df.quantity[m].sum()) if m.any() else None)
                if st["got"] != exp:
                    raise AssertionError(f"pruned read [{lo},{hi}] {st['got']} != model {exp}")

            return Op("table_format.pruned_read", "query", pruned, check_pruned, prep_pruned)

        prep, call, replay = (getattr(self, f"_{p}{kind}") for p in ("prep_", "", "replay_"))

        def prepare():
            st.update(prep(r))

        def commit():
            call(st)

        def check(_):
            st["n"] = replay(st)
            self.rows_changed += st["n"]
            now = du(self.root)
            self.commit_bytes.append(now - self.root_bytes)
            self.root_bytes = now
            if self.travel is None and kind != "compact":
                self.travel = (tf.list_versions(self.root)[-1], self.model.snapshot())
            return st["n"]

        return Op(f"table_format.{kind}", "commit", commit, check, prepare)

    # -- end of run ----------------------------------------------------------
    def _same(self, version, expect: pd.DataFrame, what: str) -> None:
        got = (
            tf.read_version(self.spark, self.root, version).toPandas()
            .sort_values("sales_key").reset_index(drop=True)[COLS]
        )
        ok = len(got) == len(expect) and all(
            np.array_equal(got[c].to_numpy(), expect[c].to_numpy()) for c in COLS
        )
        self.ctx.check(what, ok, f"{len(got)} rows vs model {len(expect)}")

    def finish(self) -> None:
        self.end_state = {
            "live_delete_files": len(tf.active_delete_adds(self.root)),
            "active_files": len(tf.active_files(self.root)),
        }
        live = len(self.model.df) * self.row_bytes
        c = self.ctx.counters
        c[f"{self.NAME}.write_amp"] = (
            sum(self.commit_bytes) / max(1.0, self.rows_changed * self.row_bytes)
        )
        c[f"{self.NAME}.space_amp"] = du(self.root) / live
        self._same(None, self.model.snapshot(), "final snapshot == replay")
        if self.travel:
            self._same(self.travel[0], self.travel[1], f"version {self.travel[0]} == replay")

    def layer_metrics(self) -> dict:
        t = self.t
        return {
            "table_format.merge_ms": t.mean_ms("table_format.merge"),
            "table_format.delete_ms": t.mean_ms("table_format.delete"),
            "table_format.update_ms": t.mean_ms("table_format.update"),
            "table_format.append_ms": t.mean_ms("table_format.append"),
            "table_format.compact_ms": t.mean_ms("table_format.compact"),
            "table_format.read_ms": t.mean_ms("table_format.read"),
            "table_format.pruned_read_ms": t.mean_ms("table_format.pruned_read"),
            "table_format.files_rewritten_per_merge":
                float(np.mean(self.merge_rewrites)) if self.merge_rewrites else 0.0,
            "table_format.bytes_written_per_commit":
                float(np.mean(self.commit_bytes)) if self.commit_bytes else 0.0,
            "table_format.live_delete_files": self.end_state["live_delete_files"],
            "table_format.active_files": self.end_state["active_files"],
            "table_format.skip_ratio": float(np.mean(self.skips)) if self.skips else 0.0,
        }
