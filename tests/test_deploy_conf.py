"""Deploy-manifest ↔ session-conf drift gate (VERDICT r02 item 7).

The k8s manifest (``deploy/spark_application.yaml``) is a *rendered*
form of ``core.session``'s conf builders. Nothing in this sandbox can
submit it, but drift between the two surfaces is exactly the kind of
bug that only fires at deploy time — so every sparkConf key the
manifest declares must be producible by ``SparkManager`` defaults +
``s3a_conf()`` + ``k8s_conf()``, with matching values.
"""

import re

SESSION_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def manifest_spark_conf() -> dict:
    """Parse the flat `"key": "value"` pairs of the sparkConf block."""
    text = open("deploy/spark_application.yaml").read()
    block = text.split("sparkConf:")[1].split("volumes:")[0]
    return dict(re.findall(r'"([^"]+)"\s*:\s*"([^"]*)"', block))


def test_manifest_conf_matches_session_builders():
    from spark_etl_agent_spark.core.session import k8s_conf, s3a_conf

    rendered = dict(SESSION_DEFAULTS)
    rendered.update(
        k8s_conf(
            namespace="spark-etl",
            image="example.registry.local/spark-etl-agent-spark:latest",
            service_account="spark-etl-agent",
            executor_instances=2,
        )
    )
    rendered.update(s3a_conf())

    manifest = manifest_spark_conf()
    assert manifest, "sparkConf block parsed empty"
    for key, mval in manifest.items():
        assert key in rendered, f"manifest key {key} not produced by any builder"
        assert rendered[key] == mval, (key, rendered[key], mval)


def test_session_defaults_match_sparkmanager_source():
    """The dict above must stay in sync with SparkManager's actual conf
    (parse the source, don't boot a second session)."""
    import inspect

    from spark_etl_agent_spark.core.session import SparkManager

    src = inspect.getsource(SparkManager.create_spark_session)
    for key, val in SESSION_DEFAULTS.items():
        assert f'"{key}": "{val}"' in src, key


def test_manifest_is_valid_spark_application():
    """Structural validation of the SparkApplication manifest: the
    fields the spark-operator requires must exist with sane values —
    catches a YAML typo that would otherwise only fail at submit time."""
    import yaml

    doc = yaml.safe_load(open("deploy/spark_application.yaml"))
    assert doc["apiVersion"] == "sparkoperator.k8s.io/v1beta2"
    assert doc["kind"] == "SparkApplication"
    spec = doc["spec"]
    assert spec["type"] == "Python" and spec["mode"] == "cluster"
    assert spec["mainApplicationFile"].startswith("local://")
    for side in ("driver", "executor"):
        assert spec[side]["memory"].endswith("g")
        assert spec[side]["serviceAccount"]
    assert spec["restartPolicy"]["type"] == "OnFailure"
    # executor instances consistent between sparkConf and the spec block
    assert str(spec["executor"]["instances"]) == spec["sparkConf"][
        "spark.executor.instances"
    ]
    # the token projection the WebIdentity credentials provider expects
    vols = {v["name"] for v in spec["volumes"]}
    for side in ("driver", "executor"):
        mounts = {m["name"] for m in spec[side]["volumeMounts"]}
        assert mounts <= vols
