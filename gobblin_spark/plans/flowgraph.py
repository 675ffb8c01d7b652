"""Multi-hop flow compilation: a FlowGraph of data nodes and templated
job edges, compiled into an executable flow by shortest-path search —
the gobblin-service (GaaS) MultiHopFlowCompiler path.

Reference mapping (all relative to /root/reference/):
- FlowGraph = DataNodes + FlowEdges (gobblin-service/.../flowgraph/
  FlowGraph.java:29, DataNode.java, FlowEdge.java): nodes are physical
  datasets/clusters, edges are job templates that move/transform data
  between two nodes.
- MultiHopFlowCompiler (gobblin-service/.../flow/
  MultiHopFlowCompiler.java:258): compile a FlowSpec (source node →
  destination node) by computing a path through the graph, then
  converting the edge sequence into a Dag of JobExecutionPlans.
- BFSPathFinder (gobblin-service/.../flowgraph/pathfinder/
  BFSPathFinder.java:39): unweighted shortest path, with the BFS state
  extended by the data FORMAT flowing along the path — an edge is
  traversable only if its input format matches what the previous edge
  emitted (AbstractPathFinder's edge-compatibility check).

Spark-first: the compiled artifact is a plans.flow.FlowSpec whose jobs
chain hop N → hop N+1 by dataset handoff (each hop's publisher dir is
the next hop's source dir), so the whole multi-hop flow executes on
run_flow's existing DAG machinery — compilation is pure driver-side
metadata."""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field as dc_field
from collections.abc import Callable, Mapping

from gobblin_spark.plans import flow as FL

ANY = "any"


@dataclass
class DataNode:
    """A physical endpoint (cluster / dataset root). ``props`` feed the
    edge templates (e.g. fs root paths)."""

    id: str
    props: dict[str, str] = dc_field(default_factory=dict)
    active: bool = True


@dataclass
class FlowEdge:
    """A templated job from ``src`` node to ``dst`` node.

    ``template`` is either a .pull/properties TEXT with ``{src.xxx}`` /
    ``{dst.xxx}`` / ``{flow.xxx}`` placeholders (filled from node props
    and flow context), or a callable ``(src_node, dst_node, ctx) ->
    config`` returning anything plans.flow.FlowJob accepts. Formats
    gate path search: the edge consumes ``input_format`` and emits
    ``output_format`` ('any' matches everything)."""

    id: str
    src: str
    dst: str
    template: str | Callable
    input_format: str = ANY
    output_format: str = ANY
    active: bool = True


class FlowGraph:
    """Mutable node/edge registry + BFS pathfinder (FlowGraph.java:29)."""

    def __init__(self) -> None:
        self._nodes: dict[str, DataNode] = {}
        self._edges: dict[str, list[FlowEdge]] = {}

    def add_node(self, node: DataNode) -> None:
        self._nodes[node.id] = node
        self._edges.setdefault(node.id, [])

    def add_edge(self, edge: FlowEdge) -> None:
        for nid in (edge.src, edge.dst):
            if nid not in self._nodes:
                raise KeyError(f"edge {edge.id!r} references unknown node {nid!r}")
        self._edges[edge.src].append(edge)

    def remove_edge(self, edge_id: str) -> None:
        for edges in self._edges.values():
            edges[:] = [e for e in edges if e.id != edge_id]

    def node(self, node_id: str) -> DataNode:
        return self._nodes[node_id]

    # -- path search ---------------------------------------------------
    def find_path(
        self, source: str, destination: str, input_format: str = ANY,
        output_format: str = ANY,
    ) -> list[FlowEdge] | None:
        """Unweighted shortest edge-path source → destination whose
        formats CHAIN: edge i+1 must accept what edge i emits, and the
        last edge must emit ``output_format`` (BFSPathFinder.java:39 —
        BFS over (node, format) states, not bare nodes, because a node
        reachable in fewer hops with the wrong format is NOT a better
        path). Returns None when no path exists
        (MultiHopFlowCompiler.java:268)."""
        if source not in self._nodes or destination not in self._nodes:
            return None
        # endpoint activity is checked symmetrically: an inactive
        # destination was already unreachable (every edge checks
        # dst.active), but an inactive SOURCE used to compile a flow
        # out of a node marked down (audit r10)
        if (not self._nodes[source].active
                or not self._nodes[destination].active):
            return None

        def compatible(fmt_in_hand: str, edge_fmt: str) -> bool:
            return ANY in (fmt_in_hand, edge_fmt) or fmt_in_hand == edge_fmt

        start = (source, input_format)
        prev: dict[tuple[str, str], tuple[tuple[str, str], FlowEdge]] = {}
        seen = {start}
        queue = deque([start])
        while queue:
            state = queue.popleft()
            node_id, fmt = state
            if node_id == destination and compatible(fmt, output_format):
                path: list[FlowEdge] = []
                while state in prev:
                    state, edge = prev[state]
                    path.append(edge)
                return list(reversed(path))
            for edge in self._edges.get(node_id, ()):
                if not edge.active or not self._nodes[edge.dst].active:
                    continue
                if not compatible(fmt, edge.input_format):
                    continue
                nxt = (edge.dst, edge.output_format)
                if nxt in seen:
                    continue
                seen.add(nxt)
                prev[nxt] = (state, edge)
                queue.append(nxt)
        return None


def _instantiate(edge: FlowEdge, graph: FlowGraph, ctx: Mapping[str, str]):
    src, dst = graph.node(edge.src), graph.node(edge.dst)
    if callable(edge.template):
        return edge.template(src, dst, ctx)
    fills = {f"src.{k}": v for k, v in src.props.items()}
    fills |= {f"dst.{k}": v for k, v in dst.props.items()}
    fills |= {f"flow.{k}": v for k, v in ctx.items()}
    out = edge.template
    for k, v in fills.items():
        out = out.replace("{" + k + "}", str(v))
    return out


def compile_flow(
    graph: FlowGraph,
    flow_name: str,
    source: str,
    destination: str,
    ctx: Mapping[str, str] | None = None,
    input_format: str = ANY,
    output_format: str = ANY,
    max_parallel: int = 2,
) -> FL.FlowSpec:
    """MultiHopFlowCompiler.java:258-268 — find the path, instantiate
    each edge's job template, and chain the hops into a runnable
    plans.flow.FlowSpec (hop N depends on hop N-1). Raises ValueError
    when no path exists."""
    path = graph.find_path(source, destination, input_format, output_format)
    if path is None:
        raise ValueError(
            f"no path found from source: {source} and destination: {destination}"
        )
    ctx = dict(ctx or {})
    jobs: list[FL.FlowJob] = []
    for i, edge in enumerate(path):
        jobs.append(
            FL.FlowJob(
                name=f"{flow_name}-hop{i}-{edge.id}",
                config=_instantiate(edge, graph, ctx),
                depends_on=(jobs[-1].name,) if jobs else (),
            )
        )
    return FL.FlowSpec(name=flow_name, jobs=jobs, max_parallel=max_parallel)
