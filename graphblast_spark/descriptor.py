"""Execution descriptor — engine options passed to every operation.

Mirrors the reference ``Descriptor`` (graphblas/descriptor.hpp:17-39,
graphblas/types.hpp:44-78): mask complement (SCMP), output replace,
operand transpose flags, push/pull mode and switchpoint, iteration
bound. The physical-execution knobs that were CUDA-specific
(load-balance mode, endbit, preallocated arenas) are Spark's problem
(AQE / Tungsten) and intentionally absent.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from enum import Enum


class MxvMode(Enum):
    """Direction-optimization mode (reference util.hpp:75-82, --mxvmode)."""

    PUSHPULL = 0  # choose by frontier density vs switchpoint
    PUSHONLY = 1  # always broadcast-join the frontier (SpMSpV analog)
    PULLONLY = 2  # always shuffle-join against the dense vector (SpMV analog)


@dataclass(frozen=True)
class Descriptor:
    # Masking (reference types.hpp:44-78)
    mask_complement: bool = False  # GrB_SCMP: use anti-join instead of semi
    structure_only: bool = False   # struconly: mask pattern only, ignore values
    replace: bool = False          # GrB_REPLACE: output replaces, not merges

    # Operand orientation (GrB_INP0/INP1 = GrB_TRAN)
    transpose_a: bool = False      # swap src/dst on the edge operand

    # Direction optimization (reference backend/cuda/operations.hpp:131-199)
    mxv_mode: MxvMode = MxvMode.PUSHPULL
    switchpoint: float = 0.01      # frontier density threshold (util.hpp:81-82)

    # Iteration control (reference util.hpp:57-58)
    max_niter: int = 200

    # Skew handling: vecmat auto-salts the semiring reduce when the
    # hottest output key's fan-in exceeds this many rows (the hub's
    # pre-combine volume). 16M rows ≈ a few hundred MB of (key, val)
    # pairs — roughly one executor-task's comfortable working set; web
    # hubs above it get a two-phase salted reduce (see vecmat._vecmat).
    salt_budget: int = 1 << 24

    def with_(self, **kw) -> "Descriptor":
        return replace(self, **kw)


DEFAULT_DESC = Descriptor()
