"""Streaming checkpoints go through Spark's FileSystem checkpoint manager.

``get_spark`` sets ``spark.sql.streaming.checkpointFileManagerClass`` so
that a checkpoint rename is one ``FileSystem.rename`` instead of the
FileContext rename, which forks ``readlink`` without native libhadoop
(see ``goeventstream_spark.session``). These tests pin that the setting
reaches the manager every streaming query creates, and that no check of
the checkpoint was lost with it: the metadata log still refuses to write
a batch twice, and every checkpoint file keeps its Hadoop ``.crc`` and,
for state files, Spark's own checksum file.
"""

from __future__ import annotations

import os
import re

import pytest

_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _manager(spark, path: str):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )


def test_session_checkpoints_use_filesystem_manager(spark, tmp_path):
    assert _manager(spark, str(tmp_path)).getClass().getName() == _FS_MANAGER


def test_atomic_create_refuses_to_overwrite(spark, tmp_path):
    fm = _manager(spark, str(tmp_path))
    path = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = fm.createAtomic(path, False)
    out.write(1)
    out.close()
    again = fm.createAtomic(path, False)
    again.write(2)
    with pytest.raises(Exception, match="FileAlreadyExists|FAILED_RENAME_PATH"):
        again.close()
    assert (tmp_path / "0").read_bytes() == b"\x01"


def test_serve_checkpoint_files_keep_their_checksums(spark, tmp_path):
    from goeventstream_spark.sources.http_bridge import HttpWireBridge, serve_inline

    ckpt = tmp_path / "ckpt"
    bridge = HttpWireBridge(inline_timeout_s=60).start()
    q = serve_inline(spark, bridge, trigger_ms=200, checkpoint_dir=str(ckpt))
    try:
        statuses = [
            bridge.post_sync(f"g{i % 2}", "7", 0, now_ms=1_800_000_000_000 + i * 200)[0]
            for i in range(4)
        ]
    finally:
        q.stop()
        bridge.stop()
    assert statuses == [200] * 4

    for log in ("offsets", "commits"):
        names = set(os.listdir(ckpt / log))
        batches = [n for n in names if n.isdigit()]
        assert batches, (log, names)
        missing = [n for n in batches if f".{n}.crc" not in names]
        assert not missing, (log, missing)

    zips = 0
    for root, _dirs, files in os.walk(ckpt / "state"):
        names = set(files)
        for n in names:
            if re.fullmatch(r"\d+\.zip", n):
                zips += 1
                assert f"{n}.crc" in names, (root, n)
                assert f".{n}.crc" in names, (root, n)
    assert zips > 0
