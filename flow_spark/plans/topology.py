"""Pipeline DAG validation and explain.

Reference: /root/reference/pkg/util/data/topology.go:57-101 (DFS topo sort
with cycle detection, used so sinks start before receivers,
pipeline/pipeline.go:52-84) and the graphviz explain agent
(pkg/util/explain/graphiviz_pipeline.go:12-43).

Spark handles execution ordering itself; we keep the validation pass
(unknown peers / cycles are config-time errors, pipeline.go:136-141)
and the DOT emitter for parity with `/pipeline/describe`.
"""

from __future__ import annotations

from flow_spark.plans.config import ConfigError, PipelineConfig


def validate_dag(cfg: PipelineConfig) -> list[str]:
    """Check peers exist and the graph is acyclic; return a topological
    order (upstream -> downstream)."""
    for name, peers in cfg.connections.items():
        for p in peers:
            if p not in cfg.actors:
                raise ConfigError(f"actor {name!r} connects to unknown peer {p!r}")

    order: list[str] = []
    state: dict[str, int] = {}  # 0=unvisited 1=visiting 2=done

    def visit(node: str, path: list[str]) -> None:
        s = state.get(node, 0)
        if s == 1:
            cycle = " -> ".join(path + [node])
            raise ConfigError(f"pipeline graph has a cycle: {cycle}")
        if s == 2:
            return
        state[node] = 1
        for p in cfg.connections.get(node, []):
            visit(p, path + [node])
        state[node] = 2
        order.append(node)

    for name in cfg.actors:
        visit(name, [])
    order.reverse()
    return order


def upstreams_of(cfg: PipelineConfig, name: str) -> list[str]:
    return [a for a, peers in cfg.connections.items() if name in peers]


def to_dot(cfg: PipelineConfig) -> str:
    """DOT digraph of the pipeline (graphviz explain parity)."""
    lines = ["digraph pipeline {"]
    for name, spec in sorted(cfg.actors.items()):
        label = f"{name}\\n{spec['module']}"
        lines.append(f'  "{name}" [label="{label}"];')
    for name, peers in sorted(cfg.connections.items()):
        for p in peers:
            lines.append(f'  "{name}" -> "{p}";')
    lines.append("}")
    return "\n".join(lines)
