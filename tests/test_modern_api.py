"""Spark 4 modern-API entries (r9): VARIANT semi-structured processing and
the Python Data Source connector — plan/behavior pins beyond the oracle
hash (which proves values; these prove the MECHANISM claimed in the
docstrings is the one actually running)."""

SF = "/root/testdata/sf0.001"


def test_variant_extract_is_jvm_side(spark):
    """parse_json/variant_get must run as JVM expressions — no Python
    worker in the plan (the whole point of VARIANT vs a Python JSON
    UDF)."""
    from dataselector_spark.suite import QUERIES

    df = QUERIES["b11_variant_extract"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    for marker in ("batchevalpython", "arrowevalpython", "pythonudf"):
        assert marker not in plan, f"Python eval in variant plan: {marker}"


def test_variant_column_is_variant_type(spark):
    """The intermediate column must be a real VariantType, not a string
    holding JSON."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import VariantType

    from dataselector_spark.catalog import load_table

    e = load_table(spark, SF, "events").limit(1)
    v = e.select(F.parse_json(F.lit('{"a":1}')).alias("var"))
    assert isinstance(v.schema["var"].dataType, VariantType)


def test_variant_missing_path_counts(spark):
    """try_variant_get on the conditionally-absent key must yield NULL for
    exactly the rows that lack it: n_flagged sums to the number of
    event_id % 5 == 0 rows."""
    from dataselector_spark.catalog import load_table
    from dataselector_spark.suite import QUERIES

    rows = QUERIES["b11_variant_extract"].fn(spark, SF).collect()
    expected = (
        load_table(spark, SF, "events").filter("event_id % 5 = 0").count()
    )
    assert sum(r.n_flagged for r in rows) == expected


def test_python_datasource_partition_planning(spark):
    """reader().partitions() drives scan parallelism: the source must scan
    as exactly _PYDS_PARTS input partitions, and the full dataset must
    land (no lost / duplicated splits)."""
    from dataselector_spark.suite.formats import (
        _PYDS_PARTS,
        _PYDS_ROWS,
        b01_python_datasource,
    )

    # b01_python_datasource registers the source as a side effect
    agg = b01_python_datasource(spark, SF)
    src = spark.read.format("dsspark_synth_rows").load()
    assert src.rdd.getNumPartitions() == _PYDS_PARTS
    assert src.count() == _PYDS_PARTS * _PYDS_ROWS
    total = sum(r.n for r in agg.collect())
    assert total == _PYDS_PARTS * _PYDS_ROWS


def test_python_datasource_rows_deterministic(spark):
    """Row values are pure functions of gid — two reads agree exactly."""
    from dataselector_spark.suite.formats import b01_python_datasource

    a = b01_python_datasource(spark, SF).collect()
    b = b01_python_datasource(spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_python_stream_source_runs_multiple_microbatches(spark):
    """The streaming connector must actually iterate the offset contract:
    5000 rows / 1250-row reads = 4 committed micro-batches, each bounded
    by the reader's returned offsets, and the union of batches covers the
    ledger exactly once (no loss, no dupes across boundaries)."""
    import uuid

    from pyspark.sql import functions as F

    from dataselector_spark.suite import QUERIES

    # entry registers the source; re-read it with an append-mode sink so
    # each micro-batch's rows land separately (the per-batch audit the
    # complete-mode aggregate cannot give)
    QUERIES["b01_python_stream_source"].fn(spark, "/root/testdata/sf0.001")
    name = f"pyds_batches_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("dsspark_synth_stream")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
    finally:
        q.stop()
    assert n_batches == 4, f"expected 4 micro-batches, saw {n_batches}"
    rows = spark.table(name)
    assert rows.count() == 5000
    assert rows.select("gid").distinct().count() == 5000
    got_min, got_max = rows.agg(
        F.min("gid"), F.max("gid")
    ).first()
    assert (got_min, got_max) == (0, 4999)


def test_polymorphic_udtf_schema_follows_input(spark):
    """analyze() must derive the output schema from the ACTUAL table
    argument: a different projection through the same registered function
    yields a different passthrough schema."""
    from dataselector_spark.catalog import load_table
    from dataselector_spark.suite import QUERIES

    wide = QUERIES["b21_polymorphic_udtf"].fn(spark, SF)
    assert wide.columns == [
        "doc_id", "lang", "n_tokens", "chunk_idx", "chunk_tokens",
    ]
    # same function, narrower projection -> narrower passthrough
    from pyspark.sql import functions as F

    load_table(spark, SF, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    ).createOrReplaceTempView("udtf_docs_narrow")
    narrow = spark.sql(
        "SELECT * FROM dsspark_chunk_spans(TABLE(udtf_docs_narrow))"
    )
    assert narrow.columns == ["doc_id", "n_tokens", "chunk_idx", "chunk_tokens"]
    assert narrow.count() == wide.count()


def test_sql_scripting_loop_matches_declarative_form(spark):
    """The WHILE-loop coverage search must agree with the window-cumsum
    form computed in the same engine (the DuckDB oracle re-proves this
    cross-engine), and the loop must have actually iterated (k >= 1)."""
    from dataselector_spark.suite import QUERIES

    row = QUERIES["b24_scripting_lang_coverage"].fn(spark, SF).collect()
    assert len(row) == 1
    k, covered, total = row[0]
    assert k >= 1 and covered * 5 >= total * 4
    decl = spark.sql("""
        WITH lc AS (SELECT lang, sum(n_chars) AS chars
                    FROM parquet.`{}/documents.parquet` GROUP BY lang),
        ranked AS (
            SELECT sum(chars) OVER (ORDER BY chars DESC, lang
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                   row_number() OVER (ORDER BY chars DESC, lang) AS rk,
                   sum(sum(chars)) OVER () AS dummy
            FROM lc GROUP BY lang, chars
        )
        SELECT rk, cum FROM ranked ORDER BY rk
    """.format(SF)).collect()
    total_decl = decl[-1][1]
    k_decl = min(r[0] for r in decl if r[1] * 5 >= total_decl * 4)
    assert k == k_decl and total == total_decl


def test_sql_scripting_bigint_limit_var_rejected(spark):
    """Dialect pin: LIMIT bound to a BIGINT script variable is rejected
    (checkLimitLikeClause requires INT) — the reason the entry declares
    its loop variable INT. If a future Spark lifts this, the pin fails
    and the docstring should be updated."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException, match="INVALID_LIMIT_LIKE"):
        spark.sql("""
        BEGIN
          DECLARE k BIGINT DEFAULT 1;
          SELECT * FROM (SELECT 1 AS x) LIMIT k;
        END
        """).collect()


def _plotly_available():
    import importlib.util

    try:
        return importlib.util.find_spec("plotly") is not None
    except ModuleNotFoundError:
        return False


def test_plot_api_pinned_environment_limitation(spark):
    """Spark 4.1's DataFrame plotting API (pyspark.sql.plot) is the
    engine-side analogue of the reference's D3 rendering — the one
    surface the suite otherwise declares driver-side-by-design. It
    needs the plotly backend, absent here; pin that the accessor exists
    and fails on the MISSING BACKEND (not on our data), so the
    limitation is provably environmental. Self-activating sibling
    below runs the real plot when plotly appears."""
    import pytest as _pytest

    df = spark.range(10).selectExpr("id", "id * id AS y")
    assert hasattr(df, "plot")
    if not _plotly_available():
        with _pytest.raises(Exception) as ei:
            df.plot.line(x="id", y="y")
        assert "plotly" in str(ei.value).lower()


def test_plot_api_end_to_end():
    """Self-activating: with plotly installed, the line plot over a
    Spark DataFrame must build a figure with our 10 points."""
    import pytest as _pytest

    if not _plotly_available():
        _pytest.skip("plotly not installed (see pinned limitation above)")
    from dataselector_spark.session import get_spark

    spark = get_spark("plot-e2e", cpus=2, shuffle_partitions=2)
    fig = spark.range(10).selectExpr("id", "id * id AS y").plot.line(
        x="id", y="y"
    )
    assert fig is not None


def _spark_avro_available():
    import glob
    import os

    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "spark-avro*")
    ) + glob.glob("/opt/spark/jars/spark-avro*")
    return bool(jars)


def test_avro_pinned_environment_limitation(spark, tmp_path):
    """Avro is the fourth pinned environment limitation (after
    transformWithState/protobuf, SDP/grpcio, plotting/plotly): the
    avro-core jars ship in this container but the spark-avro CONNECTOR
    module does not, so format('avro') fails at data-source lookup —
    Spark's own error says 'built-in but external data source module'.
    Pin that the failure is the MISSING MODULE (not our data or call
    shape); the self-activating sibling below runs the real roundtrip
    when the connector appears."""
    import pytest as _pytest

    if _spark_avro_available():
        _pytest.skip("spark-avro present — covered by the e2e sibling")
    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException) as ei:
        spark.range(3).write.format("avro").mode("overwrite").save(
            str(tmp_path / "avro_pin")
        )
    assert "avro" in str(ei.value).lower()
    assert "external data source module" in str(ei.value)


def test_avro_roundtrip_end_to_end(spark, tmp_path):
    """Self-activating: with the spark-avro connector deployed, nation
    must survive an Avro write/readback bit-exactly."""
    import pytest as _pytest

    if not _spark_avro_available():
        _pytest.skip("spark-avro connector absent (see pinned limitation)")
    from dataselector_spark.catalog import load_table

    n = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "nation_avro")
    n.write.format("avro").save(path)
    back = spark.read.format("avro").load(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_parallel_stream_source_task_parallelism(spark):
    """b01_python_stream_source_parallel's oracle proves each 500-row slice
    contributed exactly its rows; this pins the EXECUTION claim — that the
    slices are read by distinct executor TASKS within a micro-batch. The
    suite entry can't observe it (pyspark runs the streaming reader's
    driver piece in a separate Python runner daemon, so a closure call-log
    stays empty — found r10), so a raw-stream foreachBatch probe captures,
    per micro-batch, the DISTINCT TaskContext partition ids seen by read()
    alongside the logical pids."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    total, batch, slice_rows = 4000, 2000, 500

    class RangePartition(InputPartition):
        def __init__(self, start, end):
            self.start = start
            self.end = end

    class ProbeReader(DataSourceStreamReader):
        def __init__(self):
            self.target = 0

        def initialOffset(self):
            return {"pos": 0}

        def latestOffset(self):
            self.target = min(self.target + batch, total)
            return {"pos": self.target}

        def partitions(self, start, end):
            return [
                RangePartition(s, min(s + slice_rows, end["pos"]))
                for s in range(start["pos"], end["pos"], slice_rows)
            ]

        def read(self, partition):
            from pyspark import TaskContext

            tpid = TaskContext.get().partitionId()
            for g in range(partition.start, partition.end):
                yield (g, g // slice_rows, tpid)

        def commit(self, end):
            pass

    class ProbeSource(DataSource):
        @classmethod
        def name(cls):
            return "dsspark_parallel_probe"

        def schema(self):
            return "gid bigint, pid bigint, tpid bigint"

        def streamReader(self, schema):
            return ProbeReader()

    spark.dataSource.register(ProbeSource)
    per_batch = {}

    def probe(df, batch_id):
        row = df.agg(
            F.countDistinct("tpid").alias("tasks"),
            F.countDistinct("pid").alias("pids"),
            F.count(F.lit(1)).alias("rows"),
        ).first()
        per_batch[batch_id] = (row["tasks"], row["pids"], row["rows"])

    q = (
        spark.readStream.format("dsspark_parallel_probe")
        .load()
        .writeStream.foreachBatch(probe)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(per_batch) == total // batch, per_batch
    for tasks, pids, rows in per_batch.values():
        assert rows == batch
        assert pids == batch // slice_rows  # every logical slice present
        assert tasks == batch // slice_rows  # ...each read by its OWN task


def test_parallel_stream_source_checkpoint_restart_replays_slices(spark, tmp_path):
    """VERDICT r10 #4: execute the deterministic partitions(start, end)
    replay claim in b01_python_stream_source_parallel's docstring — kill a
    run mid-ledger (after the batch is published, before its offset commits),
    restart from the same checkpoint, and prove no slice was lost, duplicated,
    or re-sliced differently.

    Mechanics: the reader's available position lives in an EXTERNAL sidecar
    file (the Kafka-broker stand-in — a fresh reader instance after restart
    must not depend on in-memory state), advanced by the test between phases.
    Phase 1 delivers rows [0, 1500). Phase 2 advances to 3000 and the
    foreachBatch sink appends the batch THEN raises — published, uncommitted.
    Phase 3 restarts from the checkpoint with the ledger at 4000: the engine
    reconstructs the failed range from the offset WAL and calls
    partitions({pos:1500},{pos:3000}) on a BRAND-NEW reader instance, so rows
    [1500, 3000) append a second time with — the claim under test — the SAME
    250-row slice assignment, then [3000, 4000) arrives once. An idempotent
    (merge-by-gid) consumer of the append log would see effective
    exactly-once; the append log itself shows the replay verbatim."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    slice_rows = 250
    ledger = str(tmp_path / "ledger_pos")
    out = str(tmp_path / "deliveries")
    ckpt = str(tmp_path / "ckpt")
    marker = tmp_path / "crashed_once"

    def set_pos(n):
        with open(ledger, "w") as f:
            f.write(str(n))

    class RangePartition(InputPartition):
        def __init__(self, start, end):
            self.start = start
            self.end = end

    class SidecarReader(DataSourceStreamReader):
        """Offsets come from the sidecar file, never instance memory — the
        restart-safety contract a real connector gets from its broker."""

        def initialOffset(self):
            return {"pos": 0}

        def latestOffset(self):
            with open(ledger) as f:
                return {"pos": int(f.read())}

        def partitions(self, start, end):
            return [
                RangePartition(s, min(s + slice_rows, end["pos"]))
                for s in range(start["pos"], end["pos"], slice_rows)
            ]

        def read(self, partition):
            for g in range(partition.start, partition.end):
                yield (g, g // slice_rows)

        def commit(self, end):
            pass

    class SidecarSource(DataSource):
        @classmethod
        def name(cls):
            return "dsspark_sidecar_restart"

        def schema(self):
            return "gid bigint, pid bigint"

        def streamReader(self, schema):
            return SidecarReader()

    spark.dataSource.register(SidecarSource)

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)
        lo = df.agg(F.min("gid")).first()[0]
        if lo == 1500 and not marker.exists():
            marker.write_text("injected")
            raise RuntimeError("injected crash: published, offset uncommitted")

    def start():
        return (
            spark.readStream.format("dsspark_sidecar_restart")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # Phase 1: rows [0, 1500) in one batch of six 250-row slices.
    set_pos(1500)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # Phase 2: advance to 3000; the sink publishes [1500, 3000) then dies.
    set_pos(3000)
    q = start()
    try:
        q.awaitTermination()
        raise AssertionError("stream should have died on the injected crash")
    except StreamingQueryException:
        pass
    assert marker.exists()

    # Phase 3: restart from the checkpoint with the ledger at 4000.
    set_pos(4000)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    log = spark.read.parquet(out)
    per_gid = (
        log.groupBy("gid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("pid").alias("n_pids"),
        )
        .collect()
    )
    seen = {r["gid"]: (r["n"], r["n_pids"]) for r in per_gid}
    # Complete ledger, nothing lost.
    assert set(seen) == set(range(4000))
    for g, (n, n_pids) in seen.items():
        # The crashed range was delivered exactly twice (failed attempt +
        # WAL replay), everything else exactly once...
        assert n == (2 if 1500 <= g < 3000 else 1), (g, n)
        # ...and the replay re-sliced DETERMINISTICALLY: same gid -> same
        # 250-row slice both times.
        assert n_pids == 1, (g, n_pids)
    # Slice inventory: every 250-row slice present, none fabricated.
    pids = {r["pid"] for r in log.select("pid").distinct().collect()}
    assert pids == set(range(4000 // slice_rows))
