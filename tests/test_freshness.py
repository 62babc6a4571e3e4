"""Freshness of the serving store inside one live session: after a
dataset is rewritten (and invalidated, where the write path does not
stamp it), every cached structure built over it must reflect the new
contents — the recast graph, the trained inverted file, an indexer's
parse records and the CLI's graph — and pure memos stay bounded."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR


def _copy_sf(dst) -> str:
    shutil.copytree(TEST_SF_DIR, dst)
    return str(dst)


def test_recast_graph_sees_rewrite_after_invalidate(spark, tmp_path):
    from codegraph_spark import serving
    from codegraph_spark.graph import PropertyGraph

    sf = _copy_sf(tmp_path / "sf")
    g = PropertyGraph.from_tpch_recast(spark, sf)
    n_regions = g.by_label("Region").count()

    path = os.path.join(sf, "region.parquet")
    region = pq.read_table(path)
    extra = pa.table(
        {"r_regionkey": pa.array([99], pa.int32()), "r_name": ["ATLANTIS"]}
    )
    pq.write_table(pa.concat_tables([region, extra.cast(region.schema)]), path)
    serving.invalidate(sf)

    g2 = PropertyGraph.from_tpch_recast(spark, sf)
    assert g2.by_label("Region").count() == n_regions + 1
    assert g2.nodes.filter(F.col("name") == "ATLANTIS").count() == 1
    serving.invalidate(sf)


def test_ivf_kmeans_sees_embeddings_rewrite_after_invalidate(spark, tmp_path):
    """The trained inverted file is rebuilt from the rewritten vectors:
    the rewritten dir answers exactly like a fresh dir holding them."""
    from codegraph_spark import serving
    from codegraph_spark.queries.similarity import sim_ivf_kmeans

    sf = _copy_sf(tmp_path / "sf")
    before = sorted(sim_ivf_kmeans(spark, sf).collect())

    # relabel every vector (vec_id -> n-1-vec_id): the probe set and
    # every neighbour id change
    path = os.path.join(sf, "embeddings.parquet")
    emb = pq.read_table(path)
    ids = emb.column("vec_id").to_pylist()
    top = max(ids)
    rewritten = emb.set_column(
        0, "vec_id", pa.array([top - i for i in ids], pa.int64())
    )
    pq.write_table(rewritten, path)
    fresh = str(shutil.copytree(sf, tmp_path / "fresh"))
    serving.invalidate(sf)

    after = sorted(sim_ivf_kmeans(spark, sf).collect())
    want = sorted(sim_ivf_kmeans(spark, fresh).collect())
    assert after == want and after != before
    serving.invalidate(sf)
    serving.invalidate(fresh)


def _function_names(nodes) -> list[str]:
    return sorted(
        r.name for r in nodes.filter(F.col("label") == "Function").collect()
    )


def test_index_project_reindex_of_edited_tree(spark, tmp_path):
    """Re-indexing an edited tree at the same path in one session
    parses the new contents, not the first call's cached records."""
    from codegraph_spark.sources.static_index import index_project

    root = tmp_path / "proj"
    root.mkdir()
    src = root / "mod.py"
    src.write_text("def alpha():\n    return 1\n")
    nodes, _ = index_project(spark, str(root))
    assert _function_names(nodes) == ["alpha"]

    src.write_text("def beta():\n    return 2\n\n\ndef gamma():\n    return 3\n")
    nodes, _ = index_project(spark, str(root))
    assert _function_names(nodes) == ["beta", "gamma"]


def test_cli_session_reindex_then_search_finds_new_symbol(spark, tmp_path):
    """index project -> query search -> edit -> index project (same
    --out) -> query search, all through run_command in one session."""
    from codegraph_spark.__main__ import _build_parser, run_command

    def run(*argv):
        return run_command(_build_parser().parse_args(list(argv)), spark)

    root = tmp_path / "proj"
    root.mkdir()
    (root / "mod.py").write_text("def alpha_handler():\n    return 1\n")
    out = str(tmp_path / "graph")

    def search(term):
        hits = run("--graph", out, "query", "search", term, "--types", "Function")
        return [h["name"] for h in hits]

    run("index", "project", str(root), "--out", out)
    assert search("alpha_handler") == ["alpha_handler"]
    assert search("omega_handler") == []

    (root / "extra.py").write_text("def omega_handler():\n    return 2\n")
    run("index", "project", str(root), "--out", out)
    assert search("omega_handler") == ["omega_handler"]


def test_huff_lut_cache_bounded_over_many_dht_specs():
    """Decoding more distinct DHT specs than the LUT cache holds keeps
    it at its cap. Each variant appends unused length-16 codes to the DC
    table, so the spec bytes differ but every used code is unchanged."""
    import struct

    import numpy as np

    from codegraph_spark.operators import jpeg_stdlib as J

    px = np.arange(16 * 16, dtype=np.uint8)
    data = J.encode_jpeg_gray(px, 16, 16, quality=90)
    want = J.decode_jpeg_gray(data)[2]
    at = data.index(b"\xff\xc4")
    seg_end = at + 2 + struct.unpack(">H", data[at + 2 : at + 4])[0]
    ac_spec = bytes([0x10]) + bytes(J._AC_LUM_BITS) + bytes(J._AC_LUM_VALS)

    cap = J._huff_lut_raw.cache_info().maxsize
    for extra in range(1, cap + 5):
        bits = list(J._DC_LUM_BITS)
        bits[15] = extra
        dc_spec = bytes([0x00]) + bytes(bits) + bytes(J._DC_LUM_VALS) + bytes(
            range(12, 12 + extra)
        )
        body = dc_spec + ac_spec
        variant = (
            data[:at] + b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
            + data[seg_end:]
        )
        assert np.array_equal(J.decode_jpeg_gray(variant)[2], want)
    assert J._huff_lut_raw.cache_info().currsize <= cap
