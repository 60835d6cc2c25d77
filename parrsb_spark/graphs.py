"""Deterministic test-graph families (FIXTURES.md §3) — the parRSB
CI-mesh corpus (8 meshes × np, ref
/root/reference/.github/workflows/ci.yml:15-19) re-expressed as edge
lists. All generators return plain Python lists so tests can feed both
Spark and the numpy oracles from the same bytes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from parrsb_spark.session import local_frame


def _h64(*parts: object) -> int:
    raw = ":".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.md5(raw).digest()[:8], "big")


def grid2d(nx: int, ny: int) -> tuple[list[tuple[int, int]], dict[int, tuple[float, ...]]]:
    """nx×ny lattice, 4-neighborhood (quad-mesh analogue, `box_2x2x2` class).
    1-based vids (dense-id contract, ref /root/reference/README.md:55-58)."""
    edges, coords = [], {}
    vid = lambda x, y: y * nx + x + 1
    for y in range(ny):
        for x in range(nx):
            coords[vid(x, y)] = (float(x), float(y), 0.0)
            if x + 1 < nx:
                edges.append((vid(x, y), vid(x + 1, y)))
            if y + 1 < ny:
                edges.append((vid(x, y), vid(x, y + 1)))
    return edges, coords


def grid3d(nx: int, ny: int, nz: int) -> tuple[list[tuple[int, int]], dict[int, tuple[float, ...]]]:
    """3-D lattice, 6-neighborhood (hex-mesh analogue)."""
    edges, coords = [], {}
    vid = lambda x, y, z: (z * ny + y) * nx + x + 1
    for z in range(nz):
        for y in range(ny):
            for x in range(nx):
                coords[vid(x, y, z)] = (float(x), float(y), float(z))
                if x + 1 < nx:
                    edges.append((vid(x, y, z), vid(x + 1, y, z)))
                if y + 1 < ny:
                    edges.append((vid(x, y, z), vid(x, y + 1, z)))
                if z + 1 < nz:
                    edges.append((vid(x, y, z), vid(x, y, z + 1)))
    return edges, coords


def ring(n: int) -> list[tuple[int, int]]:
    """Cycle graph — closed-form Fiedler (cosine mode)."""
    return [(i + 1, (i + 1) % n + 1) for i in range(n)]


def two_cliques_bridge(k: int) -> list[tuple[int, int]]:
    """2×K_k joined by one bridge edge — bisection must cut the bridge."""
    edges = []
    for off in (0, k):
        for i in range(k):
            for j in range(i + 1, k):
                edges.append((off + i + 1, off + j + 1))
    edges.append((k, k + 1))  # the bridge
    return edges


def two_components(nx: int, ny: int) -> list[tuple[int, int]]:
    """Two disjoint nx×ny grids (disconnected-half warning path,
    ref /root/reference/src/rsb.c:46-59)."""
    a, _ = grid2d(nx, ny)
    off = nx * ny
    return a + [(u + off, v + off) for u, v in a]


def star_hub(n_leaves: int) -> list[tuple[int, int]]:
    """1 hub → n leaves; the hub-vertex skew / salting path."""
    return [(1, i + 2) for i in range(n_leaves)]


def powerlaw(n: int, m: int = 4, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded copy-model power-law digraph; matches pages.page_links so the
    extracted edge set IS this graph (FIXTURES.md §1)."""
    edges = set()
    for i in range(1, n):
        for k in range(m):
            h = _h64(seed, i, k)
            frac = (h % 10_000_019) / 10_000_019.0
            t = int(frac * frac * i)
            if t != i:
                edges.add((i + 1, t + 1))  # 1-based
    return sorted(edges)


def periodic_alias(nx: int, ny: int) -> tuple[list[tuple[int, int]], list[tuple[int, int]]]:
    """Grid + alias pairs (u ≡ v): wrap the x-axis → (left_col ≡ right_col).
    The min-label contraction fixture (ref /root/reference/src/con-periodic.c:64-105)."""
    edges, _ = grid2d(nx, ny)
    vid = lambda x, y: y * nx + x + 1
    aliases = [(vid(0, y), vid(nx - 1, y)) for y in range(ny)]
    return edges, aliases


def grid2d_periodic_faces(nx: int, ny: int) -> list[tuple]:
    """Boundary-face rows of an nx×ny QUAD-ELEMENT mesh with the left
    edge periodic to the right (the `findConnectedPeriodicFaces` input
    shape, ref /root/reference/src/con-periodic.c:178-193): one row per
    boundary face, (elem_id, face_id, bc_elem, bc_face, vids, xs).
    Mesh vertices are (nx+1)×(ny+1), 1-based row-major; each LEFT face
    carries a BC pointer at its RIGHT mate (one-sided, as gencon writes
    them). Both faces list vertices bottom-up, so the matcher's reversed
    winding must pick shift 1 — the alignment search is exercised, not
    bypassed."""
    vtx = lambda x, y: y * (nx + 1) + x + 1
    elem = lambda ex, ey: ey * nx + ex + 1
    faces = []
    for ey in range(ny):
        left, right = elem(0, ey), elem(nx - 1, ey)
        faces.append(
            (
                left,
                1,
                right,
                2,
                [vtx(0, ey), vtx(0, ey + 1)],
                [[0.0, float(ey)], [0.0, float(ey + 1)]],
            )
        )
        faces.append(
            (
                right,
                2,
                None,
                None,
                [vtx(nx, ey), vtx(nx, ey + 1)],
                [[float(nx), float(ey)], [float(nx), float(ey + 1)]],
            )
        )
    return faces


FACES_SCHEMA = (
    "elem_id bigint, face_id bigint, bc_elem bigint, bc_face bigint, "
    "vids array<bigint>, xs array<array<double>>"
)


def to_df(spark: SparkSession, edges: list[tuple[int, int]]) -> DataFrame:
    return local_frame(spark, [(int(u), int(v)) for u, v in edges], "src bigint, dst bigint")


def coords_to_df(spark: SparkSession, coords: dict[int, tuple[float, ...]]) -> DataFrame:
    rows = [(int(v), float(c[0]), float(c[1]), float(c[2])) for v, c in sorted(coords.items())]
    return local_frame(spark, rows, "vid bigint, x double, y double, z double")
