"""Every example config in ``fixtures/examples`` (the reference's example
pipelines, re-authored in both syntaxes) must load: the v1alpha1 ones
directly, the v0-syntax ones through the translation layer
(plans/v0compat.py). Execution of network binds is out of scope (no
sockets in Spark); parse + DAG validation + DOT explain must succeed,
and v0 routing/fan-out semantics are executed against memory inputs.
"""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from flow_spark.plans.builder import Pipeline
from flow_spark.plans.config import load_pipeline_config
from flow_spark.plans.topology import to_dot, validate_dag

EXAMPLES = sorted(
    glob.glob(os.path.join(os.path.dirname(__file__), "fixtures", "examples", "*.yml"))
)


@pytest.mark.parametrize("path", EXAMPLES, ids=[os.path.basename(p) for p in EXAMPLES])
def test_reference_example_loads(path):
    cfg = load_pipeline_config(open(path).read())
    order = validate_dag(cfg)
    assert order, path
    assert "digraph" in to_dot(cfg)
    # every actor translated to a v1alpha1 (or plugin) module name
    for name, spec in cfg.actors.items():
        assert spec["module"].partition(".")[0] in ("core", "plugin"), (
            f"{path}: {name} -> {spec['module']}"
        )


def _messages(spark, rows):
    return spark.createDataFrame(
        [(i, body, {"dest": dest}) for i, (body, dest) in enumerate(rows)],
        "event_id long, body_str string, meta map<string,string>",
    ).withColumn("body", F.col("body_str").cast("binary"))


def test_v0_routes_map_executes(spark):
    """v0 `routes: {value: peer}` routes by VALUE (not peer name) on the
    configured routing_key, with unroutable fallthrough."""
    yaml_text = """
components:
  rcv:
    module: receiver.http
    params:
      bind_addr: :7071
  router:
    module: link.router
    params:
      routing_key: dest
  sink_a:
    module: sink.dumper
    params:
      out: a.out
  sink_b:
    module: sink.dumper
    params:
      out: b.out

pipeline:
  rcv:
    connect: router
  router:
    routes:
      a: sink_a
      b: sink_b
"""
    p = Pipeline.from_yaml(spark, yaml_text)
    # replace the network receiver with a memory input
    p.cfg.actors["rcv"]["params"] = {"bind": "memory://in"}
    msgs = _messages(
        spark, [("m0", "a"), ("m1", "b"), ("m2", "a"), ("m3", "nope"), ("m4", None)]
    )
    res = p.run(inputs={"in": msgs})
    a_ids = sorted(r.event_id for r in res.sinks["sink_a"].collect())
    b_ids = sorted(r.event_id for r in res.sinks["sink_b"].collect())
    assert a_ids == [0, 2] and b_ids == [1]
    status = {
        (r.sink, r.status): r.cnt
        for r in res.delivery.groupBy("sink", "status")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert status[("router", "unroutable")] == 2
    assert status[("sink_a", "done")] == 2 and status[("sink_b", "done")] == 1


def test_v0_links_fanout_executes(spark):
    """v0 `links:` + link.fanout -> round-robin over peers, all delivered."""
    yaml_text = """
components:
  rcv:
    module: receiver.udp
    params:
      bind_addr: :3101
  fan:
    module: link.fanout
  s1:
    module: sink.tcp
    params:
      bind_addr: localhost:7222
  s2:
    module: sink.tcp
    params:
      bind_addr: localhost:7223

pipeline:
  rcv:
    connect: fan
  fan:
    links:
      - s1
      - s2
"""
    p = Pipeline.from_yaml(spark, yaml_text)
    p.cfg.actors["rcv"]["params"] = {"bind": "memory://in"}
    msgs = _messages(spark, [(f"m{i}", "x") for i in range(6)])
    res = p.run(inputs={"in": msgs})
    s1 = sorted(r.event_id for r in res.sinks["s1"].collect())
    s2 = sorted(r.event_id for r in res.sinks["s2"].collect())
    assert s1 == [0, 2, 4] and s2 == [1, 3, 5]  # pmod(event_id, 2)
