"""TRUE cross-implementation interop (r4 VERDICT 'What's missing' #1).

Every other file-family test is a self-roundtrip (engine writes →
engine reads). Here the counterpart is the REFERENCE'S OWN codecs:
the Rust tree is compiled by scripts/interop/build_reference.py (its
crates.io deps swapped for offline shims — argument parsing and disabled
caching only; every encoder/decoder line is the reference's) and both
directions are driven for all three on-disk file families:

  engine store_bvgraph    → ref decompress_to_ascii        (ref reads ours)
  ref    main.rs compress → engine load_bvgraph             (we read ref's)
  engine store_huffgraph  → ref decompress_huff → BV trio   (ref reads ours)
  ref    compress_huff    → engine load_huffgraph           (we read ref's)
  engine store_zuckerli   → ref decompress_zuckerli → BV    (ref reads ours)
  ref    compress_zuckerli→ engine load_zuckerli            (we read ref's)

Reference entry points: src/bin/decompress_to_ascii.rs:15-60,
src/main.rs:209-241 (compress + -c equality check),
src/bin/compress_huff.rs, decompress_huff.rs, compress_zuckerli.rs,
decompress_zuckerli.rs.
"""

import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts", "interop"))

from webgraph_spark.bvgraph import load_bvgraph, store_bvgraph
from webgraph_spark.bvgraph_huffman import load_huffgraph, store_huffgraph
from webgraph_spark.zuckerli import load_zuckerli, store_zuckerli

from build_reference import REF_DIR

pytestmark = [
    pytest.mark.skipif(shutil.which("cargo") is None, reason="cargo not available"),
    pytest.mark.skipif(
        not os.path.isdir(REF_DIR),
        reason=f"reference source tree {REF_DIR} not found "
        "(point WGS_REFERENCE_DIR at a caba5/WebGraph checkout)",
    ),
]


@pytest.fixture(scope="module")
def ref_bins():
    from build_reference import build

    return build()


def _graph_with_intervals(n: int, seed: int):
    """Random graph with interval-friendly runs and locality so the BV
    reference-chain + intervalization paths are all exercised; ~15% of
    nodes have empty successor lists (outdegree-0 encoding)."""
    rng = np.random.default_rng(seed)
    adj = []
    for x in range(n):
        if rng.random() < 0.15:
            continue
        succ = set()
        # a consecutive run (intervalization)
        start = int(rng.integers(0, max(1, n - 8)))
        succ.update(range(start, start + int(rng.integers(0, 7))))
        # local residuals (reference chains across the window)
        succ.update(
            int(v)
            for v in np.clip(
                x + rng.integers(-20, 21, int(rng.integers(0, 6))), 0, n - 1
            )
        )
        # far residuals
        succ.update(int(v) for v in rng.integers(0, n, int(rng.integers(0, 4))))
        if succ:
            adj.append((x, sorted(succ)))
    return adj


def _run(bin_dir, name, *args):
    r = subprocess.run(
        [os.path.join(bin_dir, name), *args],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, f"{name} failed:\n{r.stdout}\n{r.stderr}"
    return r


def _assert_graph_equals(g, expect: dict, n: int, label: str):
    for x in range(n):
        assert g.successors(x) == expect.get(x, []), f"{label}: node {x}"


N = 250


@pytest.fixture(scope="module")
def bv_base(tmp_path_factory):
    """Engine-written BV trio + its adjacency, shared by the tests."""
    d = tmp_path_factory.mktemp("interop")
    adj = _graph_with_intervals(N, seed=42)
    base = str(d / "g")
    store_bvgraph(adj, N, base)
    return base, {x: s for x, s in adj}, d


def test_reference_decodes_engine_bvgraph_to_ascii(ref_bins, bv_base):
    base, expect, d = bv_base
    _run(ref_bins, "decompress_to_ascii", base, str(d / "ascii"))
    got = {}
    with open(str(d / "ascii") + ".txt") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            got[int(parts[0])] = [int(p) for p in parts[1:] if p != ""]
    assert len(got) == N
    for x in range(N):
        assert got[x] == expect.get(x, []), f"node {x}"


def test_reference_recompressed_bvgraph_loads_in_engine(ref_bins, bv_base):
    base, expect, d = bv_base
    # -c makes the reference itself verify written == read (main.rs:209-241)
    r = _run(ref_bins, "webgraph_rust", base, str(d / "refbv"), "-c")
    assert "Check passed" in r.stdout
    _assert_graph_equals(
        load_bvgraph(str(d / "refbv")), expect, N, "ref-BV->engine"
    )


def test_huffman_family_interop_both_directions(ref_bins, bv_base):
    base, expect, d = bv_base
    # ref compress_huff reads the ENGINE BV trio, writes ref huff
    _run(ref_bins, "compress_huff", base, str(d / "refhuff"))
    _assert_graph_equals(
        load_huffgraph(str(d / "refhuff")), expect, N, "ref-huff->engine"
    )
    # engine huff -> ref decompress_huff -> default BV trio -> engine
    store_huffgraph([(x, s) for x, s in expect.items()], N, str(d / "ourhuff"))
    _run(ref_bins, "decompress_huff", str(d / "ourhuff"), str(d / "hdec"))
    _assert_graph_equals(
        load_bvgraph(str(d / "hdec")), expect, N, "engine-huff->ref"
    )


def test_reference_decodes_parallel_exports(ref_bins, bv_base, spark,
                                            tmp_path):
    """The num_ranges parallel exports (window reset at range
    boundaries, global entropy header from merged histograms) must
    still be files the REFERENCE decodes — reference chains never
    cross a boundary, so the sequential Rust decoder is oblivious."""
    from webgraph_spark.bvgraph import edges_to_bvgraph
    from webgraph_spark.bvgraph_huffman import edges_to_huffgraph
    from webgraph_spark.zuckerli import edges_to_zuckerli

    _, expect, _ = bv_base
    rows = [(x, y) for x, s in expect.items() for y in s]
    edges = spark.createDataFrame(rows, "src long, dst long").coalesce(4)

    base = str(tmp_path / "pbv")
    edges_to_bvgraph(edges, base, num_ranges=9)
    _run(ref_bins, "decompress_to_ascii", base, str(tmp_path / "pa"))
    got = {}
    with open(str(tmp_path / "pa") + ".txt") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            got[int(parts[0])] = [int(v) for v in parts[1:] if v != ""]
    for x in range(N):
        assert got[x] == expect.get(x, []), f"bv node {x}"

    hb = str(tmp_path / "phuff")
    edges_to_huffgraph(edges, hb, num_ranges=9)
    _run(ref_bins, "decompress_huff", hb, str(tmp_path / "phd"))
    _assert_graph_equals(
        load_bvgraph(str(tmp_path / "phd")), expect, N, "par-huff->ref"
    )

    zb = str(tmp_path / "pzuck")
    edges_to_zuckerli(edges, zb, num_ranges=9)
    _run(ref_bins, "decompress_zuckerli", zb, str(tmp_path / "pzd"))
    _assert_graph_equals(
        load_bvgraph(str(tmp_path / "pzd")), expect, N, "par-zuck->ref"
    )


def test_zuckerli_family_interop_both_directions(ref_bins, bv_base):
    base, expect, d = bv_base
    _run(ref_bins, "compress_zuckerli", base, str(d / "refzuck"))
    _assert_graph_equals(
        load_zuckerli(str(d / "refzuck")), expect, N, "ref-zuck->engine"
    )
    store_zuckerli([(x, s) for x, s in expect.items()], N, str(d / "ourzuck"))
    _run(ref_bins, "decompress_zuckerli", str(d / "ourzuck"), str(d / "zdec"))
    _assert_graph_equals(
        load_bvgraph(str(d / "zdec")), expect, N, "engine-zuck->ref"
    )
