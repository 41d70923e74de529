"""File-level comparison of bucketed leaves, for tests whose twin groups
are written once by Spark's bucketed writer and once from the driver.

Two leaves match when their live directories pair up (same order: the
compact dir, then each live epoch) and, in each pair, the files of every
bucket hold the same rows, the same file name suffix
(``c000.<codec>.parquet``) and the same footer: the Arrow schema with
its metadata, the parquet column schema (path, physical and logical
types, repetition levels), Spark's key-value metadata entries
(compared as a mapping: pyarrow writes its own ``ARROW:schema`` key too,
and in its own key order) and the column codecs.  Every
file's bucket id — the number Spark reads back from its name — must
equal ``pmod(hash(cols), n)`` of each of its rows, and its rows must be
in sortBy order (``cols`` ascending, NULLs first).
"""

import re
import struct

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tubes_spark.sink import Sink, bucket_ids


def file_bucket(path: str) -> int:
    """The bucket id in a file name, parsed as Spark's
    ``BucketingUtils.getBucketId`` parses it."""
    return int(re.match(r".*_(\d+)(?:\..*)?$", path.rsplit("/", 1)[-1]).group(1))


def _value(v):
    if isinstance(v, float):  # bit for bit, NaN included
        return ("f", struct.pack(">d", v))
    if isinstance(v, list):
        return ("l", tuple(_value(x) for x in v))
    return (v is None, v)


def _footer(pf):
    cols = tuple(
        (c.path, c.physical_type, str(c.logical_type), c.converted_type,
         c.max_definition_level, c.max_repetition_level)
        for c in pf.schema
    )
    codecs = tuple(
        pf.metadata.row_group(g).column(i).compression
        for g in range(pf.metadata.num_row_groups)
        for i in range(pf.metadata.num_columns)
    )
    kv = {k: v for k, v in pf.metadata.metadata.items() if k != b"ARROW:schema"}
    return cols, kv, codecs


def leaf_files(group_dir: str) -> "list[dict]":
    """Per live dir of the group's bucket leaf, ``{bucket: (ParquetFile,
    rows, name suffix)}``; asserts each file's rows hash to its name's bucket and are
    sorted."""
    spec = Sink._bucket_spec(group_dir)
    out = []
    for d in Sink.live_leaf_dirs(group_dir, spec["leaf"]):
        files = {}
        for path, _, _ in Sink.part_files(d):
            b = file_bucket(path)
            assert b not in files, f"two files of bucket {b} in {d}"
            pf = pq.ParquetFile(path)
            t = pf.read()
            assert set(bucket_ids(t, spec["cols"], spec["n"]).tolist()) <= {b}, path
            order = pc.sort_indices(
                t, [(c, "ascending") for c in spec["cols"]],
                null_placement="at_start",
            ).to_numpy()
            assert (order == np.arange(t.num_rows)).all(), path
            files[b] = (pf, sorted(tuple(_value(v) for v in r.values())
                                   for r in t.to_pylist()),
                        path.rsplit("/", 1)[-1].split(".", 1)[1])
        out.append(files)
    return out


def assert_twin_leaves(got_dir: str, ref_dir: str) -> None:
    """The bucket leaves of two groups match file for file (see the
    module docstring)."""
    got, ref = leaf_files(got_dir), leaf_files(ref_dir)
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        assert sorted(g) == sorted(r)
        for b in g:
            (gf, grows, gext), (rf, rrows, rext) = g[b], r[b]
            assert grows == rrows, b
            assert gext == rext  # c000.<codec>.parquet
            assert gf.schema_arrow.equals(rf.schema_arrow, check_metadata=True), (
                gf.schema_arrow, rf.schema_arrow)
            assert _footer(gf) == _footer(rf)
