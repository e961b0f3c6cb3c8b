"""Session sizing comes from the host unless the environment pins it
(pure helper only — no second SparkSession is started)."""

from __future__ import annotations

from treemachine_spark.session import _host_resources, host_session_size


def test_env_overrides_host():
    env = {"SPARK_GRAFT_CPUS": "32", "SPARK_DRIVER_MEM": "16g"}
    assert host_session_size(env, 4, 16_000_000) == ("32", "16g")


def test_defaults_from_host_cores_and_a_quarter_of_memory():
    # 15 GiB MemTotal -> 3840 MiB heap; 4 usable cores -> local[4]
    assert host_session_size({}, 4, 15 * 1024 * 1024) == ("4", "3840m")
    # an empty variable counts as unset
    env = {"SPARK_GRAFT_CPUS": "", "SPARK_DRIVER_MEM": ""}
    assert host_session_size(env, 2, 8 * 1024 * 1024) == ("2", "2048m")


def test_tiny_hosts_keep_a_usable_floor():
    assert host_session_size({}, 0, 1024) == ("1", "512m")


def test_host_resources_reads_this_host():
    cores, mem_kb = _host_resources()
    assert cores >= 1 and mem_kb > 0
