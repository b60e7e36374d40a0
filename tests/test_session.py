"""The tuned session (`session.get_spark`): the confs that take fixed
cost off every micro-batch are in force."""

from __future__ import annotations

from pyspark.errors import utils as error_utils


def test_checkpoint_logs_use_the_filesystem_manager(spark, tmp_path):
    """Checkpoint log renames go through `FileSystem.rename`, not the
    FileContext path that forks `readlink` per rename."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    created = manager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert created.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_dataframe_debugging_is_off(spark, monkeypatch):
    """No Python call-site capture per Column call."""
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    assert error_utils.is_debugging_enabled() is False
