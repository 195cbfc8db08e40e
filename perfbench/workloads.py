"""Workloads by name. A workload is a mix of one or more op groups; each
group owns its seeded inputs, its operations and its output checks.
Imported inside the worker process only, after the engine package is on
``sys.path``.
"""

from __future__ import annotations

from wl_dashboard import Dashboard
from wl_dedup import LlmDedup
from wl_dml import TableDml
from wl_etl import EtlIngest


class Mix:
    """Runs its groups' setups in turn; each cycle is every group's cycle
    in turn. The order is fixed so that every seed sees the same sequence
    of operation kinds (and, for the table, the same file-layout history)."""

    def __init__(self, ctx, groups):
        self.groups = [g(ctx) for g in groups]

    def setup(self) -> None:
        for g in self.groups:
            g.setup()

    def cycle(self, k: int):
        ops = []
        for g in self.groups:
            for op in g.cycle(k):
                op.group = g.NAME
                ops.append(op)
        return ops

    def finish(self) -> None:
        for g in self.groups:
            g.finish()

    def layer_metrics(self) -> dict:
        out = {}
        for g in self.groups:
            out.update(g.layer_metrics())
        return out


GROUPS = {g.NAME: g for g in (Dashboard, EtlIngest, TableDml, LlmDedup)}

#: the benchmark's workloads: reads against loaded data, and writes
READ_MIX = (Dashboard, LlmDedup)
WRITE_MIX = (EtlIngest, TableDml)

REGISTRY = {
    "read_mix": READ_MIX,
    "write_mix": WRITE_MIX,
    **{name: (g,) for name, g in GROUPS.items()},
}


def build(name: str, ctx) -> Mix:
    return Mix(ctx, REGISTRY[name])
