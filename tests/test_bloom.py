"""Bloom-filter key index: determinism, pruning power, soundness.

The one invariant that matters is NO FALSE NEGATIVES — a key present in
a file must always pass that file's filter, or MERGE would silently skip
the rewrite and drop an update.  False positives are only a perf leak.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_mooncake_spark.functions import bloom as B
from pg_mooncake_spark.storage import MoonTable, _footer_stats, _plain


class TestBloomPrimitives:
    def test_roundtrip_and_membership(self):
        h = B.key_hash_array([np.arange(1000, dtype=np.int64)])
        m = B.bloom_m_for(1000)
        bm = B.build_bitmap(h, m)
        blob = B.serialize(bm, m)
        bm2, m2, k2 = B.deserialize(blob)
        assert m2 == m and (bm2 == bm).all()
        # every inserted key passes (no false negatives, exhaustive)
        for i in range(0, 1000, 37):
            one = B.key_hash_array([np.array([i], dtype=np.int64)])
            assert B.might_contain_any(bm2, m2, one, k2)
        # absent keys mostly fail (10 bits/key -> fp ~1%)
        absent = B.key_hash_array([np.arange(10_000, 11_000, dtype=np.int64)])
        hits = sum(
            B.might_contain_any(bm2, m2, absent[i : i + 1], k2)
            for i in range(1000)
        )
        assert hits < 50

    def test_hash_stability_pinned(self):
        """The canonical hash is part of the on-disk format: these pinned
        values must never change (a drift would false-negative every
        existing sidecar)."""
        h_int = B.key_hash_array([np.array([0, 1, -1], dtype=np.int64)])
        h_str = B.key_hash_array([np.array(["", "a", "moon"], dtype=object)])
        assert h_int.tolist() == [
            16294208416658607535,
            10451216379200822465,
            16490336266968443936,
        ]
        assert h_str.tolist() == [
            14087677454934409008,
            6857225946766476583,
            9621805213556870768,
        ]

    def test_vectorized_string_hash_matches_scalar(self):
        """The numpy FNV-1a-64 string path equals the per-value
        reference on random unicode (multi-byte, NUL, empty strings,
        skewed lengths)."""
        import random

        rng = random.Random(7)
        alphabet = "az09 'é\u00dfÆ中文字\U0001F319\x00\n"
        vals = [
            "".join(rng.choice(alphabet) for _ in range(rng.choice([0, 0, 1, 3, 8, 64])))
            for _ in range(2000)
        ] + ["x" * 5000]
        want = np.array(
            [B._fnv1a64(v.encode("utf-8")) for v in vals], dtype=np.uint64
        )
        assert (B._fnv1a64_utf8(vals) == want).all()
        col = np.array(vals, dtype=object)
        mixed = col.copy()
        mixed[3] = None  # mixed object column: the per-value path
        a, b = B.key_hash_array([col]), B.key_hash_array([mixed])
        assert (np.delete(a, 3) == np.delete(b, 3)).all()
        assert B._fnv1a64_utf8([]).tolist() == []

    def test_multi_column_order_matters(self):
        a = np.array([1], dtype=np.int64)
        b = np.array([2], dtype=np.int64)
        assert B.key_hash_array([a, b])[0] != B.key_hash_array([b, a])[0]

    def test_date_and_pydate_agree(self):
        """Stage time may see datetime64 columns, probe time python
        datetime.date objects — both must encode identically."""
        d64 = np.array(["2024-03-05"], dtype="datetime64[ns]")
        dpy = np.array([datetime.date(2024, 3, 5)], dtype=object)
        assert B.key_hash_array([d64])[0] == B.key_hash_array([dpy])[0]

    def test_unknown_blob_is_none(self):
        assert B.deserialize(b"????garbage") is None
        assert B.deserialize(b"") is None


class TestBloomPruning:
    def _table(self, spark, tmp_path, n=4000, files=8):
        mt = MoonTable(spark, str(tmp_path / "t"))
        schema = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("v", T.StringType(), True),
            ]
        )
        mt.create(schema, primary_key=["id"])
        mt.append(
            spark.range(0, n).select(
                "id", F.concat(F.lit("v"), F.col("id")).alias("v")
            )
        )
        mt.optimize(target_partitions=files, sort_by=["id"])
        return mt

    def test_scattered_keys_prune_to_containing_files(self, spark, tmp_path):
        mt = self._table(spark, tmp_path)
        files, _ = mt._snapshot(None)
        assert all(d.get("bloom") for d in files)
        keys = spark.createDataFrame([(3,), (3999,)], "id long")
        kept = mt._bloom_prune(files, keys, ["id"], 2)
        # the two true containers MUST be kept; fp may add a couple more
        truth = mt._probe_by_keys(files, keys, ["id"])
        assert {d["name"] for d in truth} <= {d["name"] for d in kept}
        assert len(kept) <= len(truth) + 2
        assert len(kept) < len(files)

    def test_absent_key_prunes_everything(self, spark, tmp_path):
        mt = self._table(spark, tmp_path)
        files, _ = mt._snapshot(None)
        keys = spark.createDataFrame([(10_000_000,)], "id long")
        # envelope already rejects out-of-range; call bloom directly to
        # prove the filter itself rejects (allow rare fp)
        kept = mt._bloom_prune(files, keys, ["id"], 1)
        assert len(kept) <= 1

    def test_missing_sidecar_keeps_candidate(self, spark, tmp_path):
        import os

        mt = self._table(spark, tmp_path, n=500, files=2)
        files, _ = mt._snapshot(None)
        victim = files[0]
        os.remove(os.path.join(mt.path, "_index", victim["bloom"]))
        MoonTable._BLOOM_CACHE.clear()
        keys = spark.createDataFrame([(499,)], "id long")
        kept = mt._bloom_prune(files, keys, ["id"], 1)
        assert victim["name"] in {d["name"] for d in kept}

    def test_string_pk_end_to_end(self, spark, tmp_path):
        mt = MoonTable(spark, str(tmp_path / "s"))
        schema = T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("x", T.LongType(), True),
            ]
        )
        mt.create(schema, primary_key=["k"])
        mt.append(
            spark.range(0, 2000).select(
                F.concat(F.lit("key_"), F.col("id")).alias("k"), F.col("id").alias("x")
            )
        )
        mt.optimize(target_partitions=6, sort_by=["k"])
        ch = spark.createDataFrame(
            [("key_42", -1, "U"), ("key_1999", None, "D")],
            "k string, x long, __op string",
        )
        mt.merge(ch)
        got = {r["k"]: r["x"] for r in mt.read().filter("k in ('key_42','key_1999','key_7')").collect()}
        assert got == {"key_42": -1, "key_7": 7}

    def test_vacuum_reaps_orphan_sidecars(self, spark, tmp_path):
        import os

        mt = self._table(spark, tmp_path, n=500, files=2)
        mt.optimize(target_partitions=1)  # old files + sidecars now dead
        mt.vacuum(staging_grace_s=0)
        live = {d["name"] for d in mt._snapshot(None)[0]}
        idx = os.listdir(os.path.join(mt.path, "_index"))
        assert {f[len("bloom-"):-len(".bin")] for f in idx} <= live


class TestPointReadPruning:
    def test_point_read_plans_single_file(self, spark, tmp_path):
        """read(where='id = K') on an UNSORTED multi-file table: min/max
        stats overlap everywhere, but the bloom sidecars cut the plan to
        the containing file(s) — driver-side, no probe job."""
        from pyspark.sql import functions as F

        mt = MoonTable(spark, str(tmp_path / "t"))
        mt.create(
            T.StructType(
                [
                    T.StructField("id", T.LongType(), False),
                    T.StructField("v", T.StringType(), True),
                ]
            ),
            primary_key=["id"],
        )
        # interleaved appends, one file each -> every file spans the whole
        # key range, so min/max stats overlap everywhere
        for i in range(6):
            mt.append(
                spark.range(i, 3000, 6)
                .select("id", F.concat(F.lit("v"), F.col("id")).alias("v"))
                .coalesce(1)
            )
        files, _ = mt._snapshot(None)
        n_files = len(files)
        stat_kept = mt._pk_stat_candidates(files, "id = 17")
        assert len(stat_kept) == n_files  # stats alone can't prune
        bloom_kept = mt._bloom_prune_literal(stat_kept, "id = 17")
        assert len(bloom_kept) < n_files
        got = mt.read(where="id = 17").collect()
        assert [(r["id"], r["v"]) for r in got] == [(17, "v17")]
        # absent key: typically zero files planned, always zero rows
        assert mt.read(where="id = 999999999").count() == 0

    def test_partial_or_nonliteral_predicates_keep_all(self, spark, tmp_path):
        mt = MoonTable(spark, str(tmp_path / "t"))
        mt.create(
            T.StructType(
                [
                    T.StructField("a", T.LongType(), False),
                    T.StructField("b", T.StringType(), False),
                    T.StructField("v", T.DoubleType(), True),
                ]
            ),
            primary_key=["a", "b"],
        )
        mt.append(
            spark.createDataFrame(
                [(1, "x", 1.0), (2, "y", 2.0)], "a long, b string, v double"
            )
        )
        mt.append(
            spark.createDataFrame([(3, "z", 3.0)], "a long, b string, v double")
        )
        files, _ = mt._snapshot(None)
        # partial key -> no pruning
        assert mt._bloom_prune_literal(files, "a = 1") == files
        # expression operand -> no pruning
        assert mt._bloom_prune_literal(files, "a = 1 AND b = upper('x')") == files
        # full literal key works and stays correct
        rows = mt.read(where="a = 1 AND b = 'x'").collect()
        assert [(r["a"], r["b"]) for r in rows] == [(1, "x")]


def test_null_pk_values_disable_bloom_soundly(spark, tmp_path):
    """NULL anywhere in a pk column must not corrupt neighbouring keys'
    hashes (pandas int→float coercion): the affected file gets no
    sidecar, a null-carrying batch skips pruning, and the merge still
    lands every real change."""
    mt = MoonTable(spark, str(tmp_path / "t"))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),  # nullable pk (!)
            T.StructField("v", T.StringType(), True),
        ]
    )
    mt.create(schema, primary_key=["id"])
    mt.append(
        spark.createDataFrame([(1, "a"), (None, "nullkey"), (2, "b")], schema)
    )
    files, _ = mt._snapshot(None)
    # whichever staged file holds the null key must NOT have a sidecar
    # (other files of the append legitimately keep theirs)
    null_files = [
        d
        for d in files
        if (d.get("stats") or {}).get("id", [None])[0] is None
    ]
    assert null_files and all(not d.get("bloom") for d in null_files)
    mt.append(spark.createDataFrame([(10, "x"), (11, "y")], schema))
    ch = spark.createDataFrame(
        [(1, "A", "U"), (10, None, "D")], "id long, v string, __op string"
    )
    mt.merge(ch)
    got = {r["id"]: r["v"] for r in mt.read().collect()}
    assert got == {1: "A", None: "nullkey", 2: "b", 11: "y"}


def _worker_sidecars(spark, data_path, names, pk):
    """Reference: the former executor-side sidecar construction — one
    ``mapInPandas`` pass over the files' pk columns, each Arrow batch ORing
    a bitmap per file (sized from the Spark row count), the driver ORing
    the partials.  Driver-built sidecars must equal its output byte for
    byte."""
    paths = [os.path.join(data_path, n) for n in names]
    file_col = F.element_at(F.split(F.input_file_name(), "/"), -1)
    rows_map = {
        r["f"]: r["n"]
        for r in spark.read.parquet(*paths).groupBy(file_col.alias("f"))
        .count().withColumnRenamed("count", "n").collect()
    }

    def gen(batches):
        import pandas as pd

        acc = {}
        for pdf in batches:
            for fname, g in pdf.groupby("__file", sort=False):
                if acc.get(fname, 1) is None or g[pk].isna().any().any():
                    acc[fname] = None
                    continue
                m = B.bloom_m_for(rows_map[fname])
                bm = B.build_bitmap(B.key_hash_array([g[c] for c in pk]), m)
                cur = acc.get(fname)
                acc[fname] = (m, bm if cur is None else cur[1] | bm)
        for fname, v in acc.items():
            m, bm = v if v is not None else (0, np.zeros(0, dtype=bool))
            yield pd.DataFrame(
                {"file": [fname], "m": [m],
                 "bits": [np.packbits(bm, bitorder="little").tobytes()]}
            )

    src = spark.read.parquet(*paths).select(*pk).withColumn("__file", file_col)
    merged = {}
    for r in src.mapInPandas(gen, "file string, m long, bits binary").collect():
        bm = np.unpackbits(
            np.frombuffer(r["bits"], dtype=np.uint8), bitorder="little"
        )[: r["m"]].astype(bool)
        if r["m"] == 0 or merged.get(r["file"], 1) is None:
            merged[r["file"]] = None
        elif r["file"] in merged:
            merged[r["file"]] = (r["m"], merged[r["file"]][1] | bm)
        else:
            merged[r["file"]] = (r["m"], bm)
    return {f: B.serialize(v[1], v[0]) for f, v in merged.items() if v}


def _spark_pass_stats(spark, data_path, names, cols):
    """Reference: the former Spark stats pass (per-file count, min, max)."""
    out = (
        spark.read.parquet(*[os.path.join(data_path, n) for n in names])
        .groupBy(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            *[F.min(c).alias(f"min_{c}") for c in cols],
            *[F.max(c).alias(f"max_{c}") for c in cols],
        )
        .collect()
    )
    return {
        r["f"]: (
            r["rows"],
            {c: [_plain(r[f"min_{c}"], "lo"), _plain(r[f"max_{c}"], "hi")]
             for c in cols},
        )
        for r in out
    }


class TestDriverSideCommitMetadata:
    """Row counts, min/max stats and bloom sidecars are built on the
    driver (parquet footers + pk columns); they must equal what the
    former Spark stats pass and worker bloom pass produced."""

    def _stage(self, mt, df, pk, extra=None):
        mt.create(df.schema, primary_key=pk)
        return mt._stage_files(df, pk, extra_stats_cols=extra)

    def test_footer_stats_match_spark_pass(self, spark, tmp_path):
        df = spark.range(0, 20_000).select(
            F.col("id").cast("int").alias("i"),
            (F.col("id") * 7919 % 100_003).alias("l"),
            F.concat(F.lit("k"), (F.col("id") * 31 % 997).cast("string")).alias("s"),
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 900).cast("int")).alias("d"),
            # NULL in every other row, and NULL throughout early row groups
            F.when(F.col("id") % 2 == 0, F.col("id")).alias("n"),
            F.when(F.col("id") >= 15_000, F.col("id").cast("int")).alias("late"),
            F.lit(None).cast("string").alias("allnull"),
            # kept Spark pass: timestamp (INT96) and double (NaN ordering)
            F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
            F.when(F.col("id") == 5, F.lit(float("nan")))
            .otherwise(F.col("id") / 3.0).alias("x"),
        ).repartition(3)
        mt = MoonTable(spark, str(tmp_path / "t"))
        spark.conf.set("parquet.block.size", "8192")
        try:
            descs = self._stage(
                mt, df, ["l"], extra=["i", "s", "d", "n", "late", "allnull", "ts", "x"]
            )
        finally:
            spark.conf.unset("parquet.block.size")
        cols = ["l", "i", "s", "d", "n", "late", "allnull", "ts", "x"]
        ref = _spark_pass_stats(spark, mt.data_path, [d["name"] for d in descs], cols)
        assert max(
            pq.read_metadata(os.path.join(mt.data_path, d["name"])).num_row_groups
            for d in descs
        ) > 1
        assert len(descs) == 3
        md = pq.read_metadata(os.path.join(mt.data_path, descs[0]["name"]))
        types = {f.name: f.dataType for f in df.schema.fields}
        assert set(_footer_stats(md, cols, types)) == set(cols) - {"ts", "x"}
        for d in descs:
            rows, stats = ref[d["name"]]
            assert d["rows"] == rows
            # json form: NaN compares equal to itself, as in the commit log
            assert json.dumps(d["stats"], sort_keys=True) == json.dumps(
                stats, sort_keys=True
            ), d["name"]

    def test_sidecars_match_worker_construction(self, spark, tmp_path):
        base = spark.range(0, 3000).select(
            F.col("id").cast("int").alias("i"),
            F.concat(F.lit("ключ-"), F.col("id").cast("string")).alias("s"),
            F.date_add(F.lit("1999-12-25").cast("date"), F.col("id").cast("int")).alias("d"),
            F.col("id").alias("v"),
        ).repartition(4)
        for pk in (["i"], ["s"], ["d"], ["s", "i", "d"]):
            mt = MoonTable(spark, str(tmp_path / "_".join(pk)))
            descs = self._stage(mt, base, pk)
            names = [d["name"] for d in descs]
            want = _worker_sidecars(spark, mt.data_path, names, pk)
            got = {
                d["name"]: mt.backend.read_bytes(
                    os.path.join(mt.path, "_index", d["bloom"])
                )
                for d in descs
            }
            assert set(want) == set(names), pk
            assert got == want, pk

    def test_pk_only_stage_runs_only_the_write_job(self, spark, tmp_path):
        mt = MoonTable(spark, str(tmp_path / "t"))
        df = spark.range(0, 500).select(
            "id", F.concat(F.lit("v"), F.col("id")).alias("v")
        ).repartition(2)
        mt.create(df.schema, primary_key=["id"])
        sc = spark.sparkContext
        sc.setJobGroup("stage-jobs", "pk-only stage")
        try:
            descs = mt._stage_files(df, ["id"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("stage-jobs")
        sc.setJobGroup("write-jobs", "plain write")
        try:
            df.write.parquet(str(tmp_path / "plain"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) == len(sc.statusTracker().getJobIdsForGroup("write-jobs"))
        assert sum(d["rows"] for d in descs) == 500
        assert all(d.get("bloom") for d in descs)
