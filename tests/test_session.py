"""Session defaults, the materialization policy and the scratch root."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from table_computing_spark.operators._util import is_local_master

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


# ------------------------------------------- materialization and scratch


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local[4,2]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://h:7077", False),
        ("yarn", False),
        ("k8s://https://h:6443", False),
    ],
)
def test_materialize_checkpoints_locally_only_on_a_local_master(master, local):
    assert is_local_master(master) is local


def _child(script, tmp_path, **env):
    path = tmp_path / "child.py"
    path.write_text(textwrap.dedent(script))
    child_env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    child_env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", **env)
    out = subprocess.run(
        [sys.executable, str(path), ROOT, str(tmp_path)],
        cwd=tmp_path, env=child_env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()[-1]


_LEAVE_NOTHING = """
    import os, sys
    sys.path.insert(0, sys.argv[1])
    import __spark_entry__ as m
    from table_computing_spark.session import get_spark
    from table_computing_spark.streaming import StreamProcessing

    spark = get_spark("scratch-probe", **{"spark.sql.shuffle.partitions": "2"})
    assert m.q_stream_running_balance(spark, "/root/testdata/sf0.001").count() > 0
    src = os.path.join(sys.argv[2], "src")
    spark.range(10).write.parquet(src)
    sp = StreamProcessing(bounded=True)
    sp.sink(spark.readStream.schema("id long").parquet(src), "noop")
    sp.await_all()
    print(len(os.listdir(os.environ["TMPDIR"])))
"""


def test_stream_queries_leave_no_scratch_dir_after_exit(tmp_path):
    """A replayed stream query and a default StreamProcessing both write
    their files under the one per-process scratch root, which is gone
    once the interpreter exits."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    in_flight = _child(
        _LEAVE_NOTHING, tmp_path,
        TMPDIR=str(tmpdir), SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"),
    )
    assert int(in_flight) >= 1  # the scratch root existed while running
    assert os.listdir(tmpdir) == []


_CLUSTER = """
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession
    from table_computing_spark.operators._util import materialize

    def session(**conf):
        b = SparkSession.builder.master("local-cluster[1,1,1024]")
        for k, v in {"spark.ui.enabled": "false", **conf}.items():
            b = b.config(k, v)
        return b.getOrCreate()

    spark = session()
    try:
        materialize(spark.range(5)).count()
        raised = None
    except Exception as e:
        raised = type(e).__name__
    spark.stop()
    ckpt = os.path.join(sys.argv[2], "ckpt")
    spark = session(**{"spark.checkpoint.dir": ckpt})
    df = materialize(spark.range(5).selectExpr("id * 2 AS x"))
    rows = sorted(r.x for r in df.collect())
    files = [f for _, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")]
    spark.stop()
    print(json.dumps({"raised": raised, "rows": rows, "files": len(files)}))
"""


def test_materialize_on_a_cluster_master_writes_a_reliable_checkpoint(tmp_path):
    """On local-cluster (separate executor JVMs) materialize writes to
    spark.checkpoint.dir, and raises when that dir is unset."""
    got = json.loads(_child(_CLUSTER, tmp_path))
    assert got["raised"] == "Py4JJavaError"
    assert got["rows"] == [0, 2, 4, 6, 8]
    assert got["files"] >= 1
