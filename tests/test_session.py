"""Session defaults that keep per-query fixed work across queries."""

from __future__ import annotations


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_generated_classes_survive_a_working_set_over_spark_default(spark):
    # 120 distinct classes (one whole-stage class per UNION ALL branch,
    # each with its own inlined literal) is more than Spark's default
    # 100-entry codegen cache holds.
    sql = " UNION ALL ".join(
        f"SELECT id * 7 + {1_000_003 + i} AS x FROM range(0, 1, 1, 1)" for i in range(120)
    )

    def compile_loop():
        spark.sql(sql)._jdf.queryExecution().executedPlan().execute()

    c0 = _compiles(spark)
    compile_loop()
    c1 = _compiles(spark)
    compile_loop()
    assert c1 - c0 >= 120
    assert _compiles(spark) == c1


def test_checkpoints_use_the_filesystem_manager_with_checksums(spark, tmp_path):
    # Local checkpoints rename through File.renameTo; the FileContext
    # default forks a readlink process per rename on this filesystem.
    jvm = spark.sparkContext._jvm
    module = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager$"
    ).getField("MODULE$").get(None)
    manager = module.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"
