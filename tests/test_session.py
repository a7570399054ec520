"""Engine session defaults that the streaming paths depend on."""

from otters_spark.session import get_spark

CONF = "spark.sql.streaming.checkpointFileManagerClass"
PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def _checkpoint_manager(spark, ckpt):
    """The class a stream started on ``spark`` writes its ``ckpt`` logs
    with."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(str(ckpt))
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path, conf).getClass().getName()


def test_checkpoint_logs_go_through_the_filesystem_manager(spark, tmp_path):
    assert spark.conf.get(CONF) == PKG + "FileSystemBasedCheckpointFileManager"
    assert _checkpoint_manager(spark, tmp_path) == PKG + "FileSystemBasedCheckpointFileManager"


def test_extra_conf_overrides_the_checkpoint_manager(spark, tmp_path):
    # get_spark re-applies its runtime confs to the shared session: keep
    # its shuffle partitions, and restore the manager afterwards
    default = spark.conf.get(CONF)
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        s = get_spark(shuffle_partitions=partitions,
                      extra_conf={CONF: PKG + "FileContextBasedCheckpointFileManager"})
        assert s.conf.get(CONF) == PKG + "FileContextBasedCheckpointFileManager"
        assert _checkpoint_manager(s, tmp_path) == PKG + "FileContextBasedCheckpointFileManager"
    finally:
        spark.conf.set(CONF, default)
