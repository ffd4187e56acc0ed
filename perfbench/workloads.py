"""The benchmark's workloads: which operations a pass runs, at what scale.

An operation is either a ``cli.main`` verb or a registered query, and every
result is forced through the ``noop`` sink. The seed permutes the operation
order of every pass and draws the ``restore`` include set.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    name: str  # "cli.<verb>" or a registered query name
    argv: tuple[str, ...] = ()  # the cli.main argv, for cli ops

    @property
    def verb(self) -> str | None:
        return self.name[4:] if self.name.startswith("cli.") else None


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    #: measured warm-pass wall time on a 4-core host; a run of S seconds
    #: makes round(S / pass_s) warm passes, at least two, the same number
    #: in every run
    pass_s: float
    queries: tuple[str, ...]
    verbs: tuple[str, ...] = ()

    def passes(self, seconds: float) -> int:
        return max(2, round(seconds / self.pass_s))


WORKLOADS = {
    # Control plane and writes: the reference's own job (restore, list,
    # clean, archive, upgrade) plus the loader's pointer publish, the
    # nightly admission gate (memo index, streaming micro-batches) and one
    # driver round loop over a persisted edge table and checkpointed
    # frontiers (breadth-first search), the materialization layer.
    "restore": Workload(
        name="restore",
        sf=0.01,
        pass_s=10.0,
        verbs=("restore", "ls", "clean", "archive", "upgrade"),
        queries=("loader_pointer_publish", "streaming_ingest_gate", "graph_bfs_distances"),
    ),
    # Data plane: read-only scans, shuffles, joins and windows.
    "analytics": Workload(
        name="analytics",
        sf=0.1,
        pass_s=4.1,
        queries=(
            "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority",
            "tpch_q5_local_supplier_volume",
            "tpch_q18_large_orders",
            "tpch_q21_waiting_suppliers",
            "orders_running_total",
        ),
    ),
}

#: scale factor of the ``--smoke`` runs
SMOKE_SF = 0.001

#: the restore verb's de-live knobs: the full suite (reference cli/main.py:811-835)
DELIVE_ARGS = (
    "-hidegroups",
    "-createusers", "sandbox_admin:Administrators",
    "-pwlist", "admin:sandbox",
    "-banner", "THIS IS A SANDBOX COPY",
)

#: the stratum of ``datagen.RESTORE_STRATA`` the include set is drawn from:
#: its newest backup is corrupt and its second-newest restores, so every
#: seed does the same work
INCLUDE_STRATUM = 1

#: the instances the include set is drawn from. Patterns match instance
#: names by substring, so ``OCG_INST1`` (which would also match
#: OCG_INST10..19) is left out; every other name matches exactly one
#: instance.
INCLUDE_POOL = [f"OCG_INST{k}" for k in range(20) if k % 4 == INCLUDE_STRATUM and k != 1]


def include_set(seed: int) -> list[str]:
    """The seeded ``restore -i`` set: one instance of INCLUDE_POOL."""
    return [random.Random(f"include-{seed}").choice(INCLUDE_POOL)]


def ops_for(w: Workload, seed: int, sf_dir: str, target: str, config: str) -> list[Op]:
    """The operations of one pass, in declaration order."""
    common = ("-sf-dir", sf_dir)
    ops = []
    for verb in w.verbs:
        argv = common
        if verb == "restore":
            argv += ("-target", target, *DELIVE_ARGS)
            for inst in include_set(seed):
                argv += ("-i", inst)
        ops.append(Op(f"cli.{verb}", ("-config", config, verb, *argv)))
    ops.extend(Op(q) for q in w.queries)
    return ops


def pass_order(ops: list[Op], seed: int, pass_no: int) -> list[Op]:
    """The operations of pass ``pass_no``: the cold pass (0) in declaration
    order, every warm pass in a seeded permutation. The first operation of
    a fresh process pays most of the JVM's warm-up, so a permuted cold
    pass would vary with the seed by which operation that is."""
    order = list(ops)
    if pass_no:
        random.Random(f"order-{seed}-{pass_no}").shuffle(order)
    return order
