"""Clustered parquet writes: prove the sink's cluster_by/sort_by
options produce tight, disjoint columnar statistics — the property
that lets scans at 100 TB skip whole files/row groups on the cluster
key (SCALE.md: data clustering complements partition pruning)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from etl_framework_spark.sources.readers import read_source, write_sink

SF = "/root/testdata/sf0.001"


def _file_ranges(path_glob: str, column: str) -> list[tuple]:
    """(min, max) of `column` per parquet data file, from footer stats."""
    ranges = []
    for f in sorted(glob.glob(path_glob)):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(column)
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    return ranges


def test_cluster_by_disjoint_file_ranges(spark, tmp_path):
    df = read_source(spark, {"format": "parquet", "path": f"{SF}/lineitem.parquet"})
    out = f"{tmp_path}/lineitem_clustered"
    write_sink(
        df,
        {
            "format": "parquet",
            "path": out,
            "cluster_by": ["l_shipdate"],
            "cluster_partitions": 4,
        },
    )
    ranges = _file_ranges(f"{out}/part-*.parquet", "l_shipdate")
    assert len(ranges) >= 3  # range partitioner may merge tiny ends
    ordered = sorted(ranges)
    for (_, hi_prev), (lo_next, _) in zip(ordered, ordered[1:]):
        assert hi_prev <= lo_next  # disjoint (or touching) key ranges

    # fidelity: clustering must not change the data
    back = read_source(spark, {"format": "parquet", "path": out})
    assert back.count() == df.count()


def test_sort_by_tightens_rowgroups_locally(spark, tmp_path):
    df = read_source(
        spark, {"format": "parquet", "path": f"{SF}/lineitem.parquet"}
    ).repartition(4)
    out_sorted = f"{tmp_path}/lineitem_sorted"
    out_plain = f"{tmp_path}/lineitem_plain"
    write_sink(df, {"format": "parquet", "path": out_sorted, "sort_by": ["l_shipdate"]})
    write_sink(df, {"format": "parquet", "path": out_plain})

    # Round-robin partitions each span ~the full date range; a local
    # sort can't shrink that span, but every file must stay internally
    # sorted — verify via pyarrow on one file.
    files = sorted(glob.glob(f"{out_sorted}/part-*.parquet"))
    col = pq.read_table(files[0], columns=["l_shipdate"])["l_shipdate"].to_pylist()
    assert col == sorted(col)
    # and the plain write round-trips the same row count
    assert (
        read_source(spark, {"format": "parquet", "path": out_plain}).count()
        == df.count()
    )
