"""Host-fitted session defaults, resolved without starting Spark."""

from table_transformer_spark.pipeline.session import (
    MAX_DRIVER_MB,
    host_defaults,
)

GB = 2**30


def test_defaults_follow_the_host():
    assert host_defaults({}, 4, 15 * GB) == (4, f"{15 * 1024 // 2}m")
    assert host_defaults({}, 1, 1 * GB) == (1, "512m")


def test_driver_memory_default_is_capped():
    assert host_defaults({}, 64, 512 * GB) == (64, f"{MAX_DRIVER_MB}m")


def test_environment_overrides_the_host():
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert host_defaults(env, 4, 15 * GB) == (8, "3g")
    assert host_defaults({"SPARK_GRAFT_CPUS": "2"}, 4, 2 * GB) == (
        2, "1024m")
