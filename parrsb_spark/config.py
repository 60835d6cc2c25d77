"""Engine options with environment-variable overrides.

Mirrors the reference's ``parrsb_options`` struct and its ``PARRSB_*``
env-var override precedence (env wins over caller-supplied values):
ref /root/reference/src/parRSB.h:21-41 (struct),
/root/reference/src/parrsb.c:26-44 (defaults),
/root/reference/src/parrsb.c:48-77 (env overrides).

Every field here is CONSUMED somewhere (no dead knobs):
- partitioner  → operators/partition.py dispatch
- repair       → operators/rsb.py `_repair_parts`
- verbose      → operators/rsb.py per-cut progress prints
- rsb_*        → operators/fiedler.py / rsb.py
- salt_degree_threshold   → functions/loop.py: the loop driver keeps AQE
               on only past this max degree (every driver-loop kernel:
               the SpMV kernels, coloring, mis, matching, betweenness,
               scc/condensation/bowtie); pagerank's salted hub aggregation
- loop_rows_per_task       → functions/loop.py `loop_partitions`: loop
               parallelism of every driver-loop kernel
- broadcast_threshold_rows / broadcast_threshold_mb
               → operators/similarity.py query-side broadcast gate
- group_scalar_broadcast_threshold
               → operators/fiedler.py literal-map vs broadcast-join scalars

Deliberately ABSENT reference knobs:
- ``levels`` (ref parrsb.c:186-234) — not an option here because the
  two-level hierarchy is its own entry point
  (`operators/hierarchy.rsb_partition_two_level(num_nodes,
  ranks_per_node)`): Spark has no machine topology to auto-detect, so
  the caller names the node geometry explicitly instead of a count.
- a global checkpoint-cadence knob — per-kernel burst lengths
  (pagerank/CC chain=2, Lanczos one-job-per-iteration) were each
  MEASURED optimal; a shared cadence would regress them. labelprop
  exposes its own ``checkpoint_interval`` parameter where cadence is
  genuinely tunable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields


@dataclass
class EngineOptions:
    # --- partitioner selection (ref parrsb.c:27-31) ---
    partitioner: str = "rsb"      # rsb | rcb | rib       (ref: 0/1/2)
    repair: int = 0               # reconnect disconnected halves (rsb.py)
    verbose: int = 1

    # --- RSB core (ref parrsb.c:36-44) ---
    rsb_algo: str = "lanczos"     # lanczos | inverse (RQI) — lanczos default
    rsb_pre: int = 1              # 0=sort, 1=RCB, 2=RIB pre-partitioning
                                  # (needs coords; auto-off without, ref parrsb.c:250)
    rsb_max_iter: int = 50        # Lanczos iterations per pass
    rsb_max_passes: int = 50      # restart passes
    rsb_tol: float = 1e-5         # convergence tolerance
    rsb_mg_factor: int = 2        # multigrid coarsening factor (RQI path)
    rsb_mg_grammian: int = 0      # Rayleigh–Ritz (grammian) refinement of the
                                  # inverse-path iterate between passes
                                  # (ref parRSB.h:39, default 0)
    mg_tail_threshold: int = 2000  # MG levels below this total size run as a
                                   # collected numpy tail (driver-side V-cycle
                                   # continuation; coarse vectors are tiny)

    # --- Spark-specific knobs (no reference analogue) ---
    # (shuffle parallelism is a SESSION concern — get_spark(shuffle_partitions=…)
    # — not an engine option: kernels read the live session conf so one
    # setting governs every plan)
    salt_degree_threshold: int = 100_000  # hub degree: loop AQE gate, pagerank salting
    broadcast_threshold_rows: int = 1_000_000  # similarity query-side broadcast cap
    broadcast_threshold_mb: int = 256  # …and its BYTE cap: rows alone misprice
                                       # wide embeddings (1M × 1024-dim doubles
                                       # is a multi-GB explicit broadcast)
    group_scalar_broadcast_threshold: int = 2048  # fiedler per-group scalars enter
                                       # plans as literal maps up to this many
                                       # groups; above it, one broadcast-joined
                                       # scalars DF per update (plan size stays
                                       # flat at deep RSB cuts)
    loop_rows_per_task: int = 65536    # target edge rows per task inside
                                       # iterative loops (functions/loop.py):
                                       # loop parallelism = min(session shuffle
                                       # partitions, ceil(edges / this)) — the
                                       # session conf caps it, so a cluster-sized
                                       # input is unaffected while a small one
                                       # stops paying per-stage scheduling latency
                                       # for sub-millisecond tasks (guide §2.2)

    def __post_init__(self) -> None:
        self._apply_env()

    def _apply_env(self) -> None:
        """Env overrides win, matching ref parrsb.c:48-77 precedence."""
        prefix = "PARRSB_SPARK_"
        for f in fields(self):
            key = prefix + f.name.upper()
            if key in os.environ:
                raw = os.environ[key]
                if f.type in ("int", int):
                    setattr(self, f.name, int(raw))
                elif f.type in ("float", float):
                    setattr(self, f.name, float(raw))
                else:
                    setattr(self, f.name, raw)


def default_options() -> EngineOptions:
    return EngineOptions()
