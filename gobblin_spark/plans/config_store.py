"""Dataset config store: hierarchical, tag-importing configuration
resolution — the gobblin-config-management analog that lets one
policy file govern thousands of datasets.

Reference mapping (all relative to /root/reference/):
- ConfigStore API (gobblin-config-management/gobblin-config-core/src/
  main/java/org/apache/gobblin/config/store/api/ConfigStore.java):
  getOwnConfig(path) + getOwnImports(path) per node.
- SimpleHadoopFilesystemConfigStore (gobblin-config-core/.../store/
  hdfs/SimpleHadoopFilesystemConfigStore.java:123,346): a directory
  tree where each node carries ``main.conf`` (own keys) and
  ``includes.conf`` (imported tag paths).
- Resolution semantics (gobblin-config-core/.../common/impl/
  InMemoryTopology / ConfigStoreBackedValueInspector): a node's
  resolved config = own keys, over its imports (nearest import wins),
  over its parent's resolved config — ancestors are the outermost
  fallback.
- ConfigClient (gobblin-config-client/.../ConfigClient.java): the
  lookup entry point used by retention/copy/compaction jobs to fetch
  per-dataset policy.

Spark-first design: config resolution is driver-side metadata (a few
KB per dataset); what scales is what the resolved config DRIVES — the
per-dataset retention/compaction plans. ``resolve_for_datasets``
vectorizes lookup over a dataset inventory so a 100k-dataset lake
resolves policies in one in-memory pass, then jobs group datasets by
identical resolved policy and run ONE Spark job per policy group
instead of per dataset.
"""

from __future__ import annotations

import posixpath
from collections.abc import Mapping, Sequence

from gobblin_spark.plans.jobconf import parse_properties


class ConfigStore:
    """An in-memory config tree. Nodes are '/'-paths; each node has its
    own key/values and an ordered import list of other node paths
    (tags). Construct directly or via :func:`load_config_store`."""

    def __init__(self) -> None:
        self._own: dict[str, dict[str, str]] = {}
        self._imports: dict[str, list[str]] = {}

    @staticmethod
    def _norm(path: str) -> str:
        p = posixpath.normpath("/" + path.strip("/"))
        return "/" if p == "/." else p

    def put(self, path: str, config: Mapping[str, str] | str,
            imports: Sequence[str] = ()) -> "ConfigStore":
        """Set a node's own config (mapping or .properties text) and
        its imports (getOwnConfig/getOwnImports of the FS store)."""
        p = self._norm(path)
        own = parse_properties(config) if isinstance(config, str) else dict(config)
        self._own[p] = {k: str(v) for k, v in own.items()}
        self._imports[p] = [self._norm(i) for i in imports]
        return self

    def own_imports(self, path: str) -> list[str]:
        return list(self._imports.get(self._norm(path), []))

    def resolve(self, path: str) -> dict[str, str]:
        """Resolved config for a node: own keys win over imported tag
        content (earlier import wins over later), which wins over the
        parent's resolved config — recursively to the root. A tag
        import contributes its own keys plus ITS transitive imports
        but NOT its ancestor chain (tags are mixins; /tags/* nodes'
        ancestors are layout, not policy). Import cycles are cut by
        visit tracking (InMemoryTopology semantics)."""
        return self._resolve(self._norm(path), frozenset(), ancestors=True)

    def _resolve(self, path: str, visiting: frozenset[str],
                 ancestors: bool) -> dict[str, str]:
        if path in visiting:
            return {}
        visiting = visiting | {path}
        out: dict[str, str] = {}
        # outermost fallback: parent chain, root first
        if ancestors and path != "/":
            out.update(self._resolve(posixpath.dirname(path), visiting, True))
        # imports: later-listed is weaker, so apply reversed
        for imp in reversed(self.own_imports(path)):
            out.update(self._resolve(imp, visiting, ancestors=False))
        # own keys strongest
        out.update(self._own.get(path, {}))
        return out

    def resolve_for_datasets(
        self, dataset_paths: Sequence[str]
    ) -> dict[str, dict[str, str]]:
        """Batch policy lookup (ConfigClient bulk path): resolve each
        dataset path in one pass. Datasets with no matching node still
        inherit ancestor config."""
        return {p: self.resolve(p) for p in dataset_paths}

    def group_by_policy(
        self, dataset_paths: Sequence[str], keys: Sequence[str]
    ) -> dict[tuple, list[str]]:
        """Group datasets whose resolved values for ``keys`` coincide —
        the unit of job planning: one Spark job per policy group, not
        per dataset."""
        groups: dict[tuple, list[str]] = {}
        for p in dataset_paths:
            cfg = self.resolve(p)
            sig = tuple(cfg.get(k) for k in keys)
            groups.setdefault(sig, []).append(p)
        return groups


def load_config_store(root_dir: str) -> ConfigStore:
    """Build a store from a SimpleHadoopFilesystemConfigStore-layout
    directory tree: each node dir may carry ``main.conf`` (own keys)
    and ``includes.conf`` (one import path per line)."""
    import os

    store = ConfigStore()
    for dirpath, _dirnames, filenames in os.walk(root_dir):
        rel = os.path.relpath(dirpath, root_dir)
        node = "/" if rel == "." else "/" + rel.replace(os.sep, "/")
        cfg: dict[str, str] = {}
        imports: list[str] = []
        if "main.conf" in filenames:
            with open(os.path.join(dirpath, "main.conf"), encoding="utf-8") as f:
                cfg = parse_properties(f.read())
        if "includes.conf" in filenames:
            with open(os.path.join(dirpath, "includes.conf"), encoding="utf-8") as f:
                imports = [ln.strip() for ln in f if ln.strip()
                           and not ln.strip().startswith("#")]
        if cfg or imports:
            store.put(node, cfg, imports)
    return store
