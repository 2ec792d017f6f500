"""ES data streams: the append-only, timestamp-keyed ingest surface
(``PUT _data_stream/<name>``) over generation-numbered backing indices.

ES semantics carried over exactly:

- a data stream owns backing indices ``.ds-<name>-NNNNNN``; writes go
  ONLY to the current write index (highest generation); reads span all
  generations;
- every appended doc MUST carry ``@timestamp`` (ES rejects docs
  without it at the ingest gate, not silently);
- the stream surface is append-only: no update/delete by doc through
  the stream (ES: ``op_type=create`` enforced) — mutations go to a
  named backing index directly (``delete_docs`` + ``purge_deletes``),
  exactly like ES's delete_by_query-on-backing-index escape hatch;
- ``_rollover`` cuts a new generation and repoints the write alias
  atomically (delegates to :func:`catalog.rollover` — same shell
  protocol as ILM).

Layout: ``<root>/<name>/`` holds ``datastream.json`` (the stream
manifest: generation count + backing list), a ``write`` alias symlink
(atomic repoint, from :func:`catalog.create_alias`), and the backing
index directories. The manifest is committed tmp+rename, so a crash
mid-rollover leaves the previous manifest — and the write alias is
repointed ONLY after the new backing shell exists.

Search: :func:`search_stream` routes to ``query.topk_multi`` —
dfs-exact cross-generation BM25 (rank-identical to one union index).
At 100 TB the generations ARE the time partitioning: a query with a
time range hits only the generations whose doc ranges overlap (callers
pass ``generations=`` to prune; each generation's postings are already
bucket-pruned within).

Reference: the plugin's users feed OSM change streams into ES dated
indices (``ElasticSearchWriterTask.java:40-82``); data streams are the
modern ES spelling of that pipeline.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.plans import catalog
from elasticsearch_osmosis_plugin_spark.plans.build import (
    _write_meta,
    append_index_group,
    load_meta,
)

TS_COL = "@timestamp"


def _stream_dir(root: str, name: str) -> str:
    return os.path.join(root, name)


def _manifest_path(root: str, name: str) -> str:
    return os.path.join(_stream_dir(root, name), "datastream.json")


def _read_manifest(root: str, name: str) -> dict[str, Any]:
    try:
        with open(_manifest_path(root, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(f"no data stream {name!r} under {root}") from None


def _write_manifest(root: str, name: str, man: dict[str, Any]) -> None:
    p = _manifest_path(root, name)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1)
    os.replace(tmp, p)


def _write_alias(root: str, name: str) -> str:
    return os.path.join(_stream_dir(root, name), "write")


def create_data_stream(root: str, name: str, *,
                       analyzer: str = "simple",
                       config: dict[str, Any] | None = None
                       ) -> dict[str, Any]:
    """Create the stream with its first (empty-shell) backing index
    ``.ds-<name>-000001`` and the write alias. Fails if it exists
    (ES: resource_already_exists_exception)."""
    d = _stream_dir(root, name)
    if os.path.exists(_manifest_path(root, name)):
        raise ValueError(f"data stream {name!r} already exists")
    os.makedirs(d, exist_ok=True)
    backing = os.path.join(d, f".ds-{name}-000001")
    os.makedirs(backing, exist_ok=False)
    # full index-config shell (what catalog.rollover copies forward
    # from a live meta) — append_index_group reads every one of these
    from elasticsearch_osmosis_plugin_spark.config import EngineConfig

    dflt = EngineConfig(analyzer=analyzer)
    shell = {"analyzer": dflt.analyzer, "k1": dflt.k1, "b": dflt.b,
             "n_segments": dflt.n_segments, "n_buckets": dflt.n_buckets,
             "block_size": dflt.block_size,
             "positions": dflt.store_positions, "n_groups": 0,
             "n_docs": 0, "avgdl": 0.0, "groups": [], "metrics": []}
    shell.update(config or {})
    _write_meta(backing, shell)
    catalog.create_alias(_write_alias(root, name), backing)
    man = {"name": name, "generation": 1, "backing": [backing],
           "timestamp_field": TS_COL}
    _write_manifest(root, name, man)
    return man


def data_stream_exists(root: str, name: str) -> bool:
    return os.path.exists(_manifest_path(root, name))


def append_stream(spark: SparkSession, root: str, name: str,
                  docs: DataFrame, *,
                  key_cols: Iterable[str] = ("repo", "path", "commit"),
                  id_col: str | None = None,
                  text_col: str = "content",
                  carry_cols: Iterable[str] | None = None) -> dict:
    """Append docs to the CURRENT write index (one LSM group commit).

    The ES ingest gate, enforced not advised: a missing ``@timestamp``
    column, or any NULL in it, rejects the whole batch before anything
    is written (atomic — ES rejects per-doc; a partially-applied batch
    cannot happen here at all)."""
    _read_manifest(root, name)  # existence gate
    if TS_COL not in docs.columns:
        raise ValueError(
            f"data stream docs require a {TS_COL!r} column (ES rejects "
            "docs without the stream's timestamp field)")
    n_null = docs.filter(F.col(TS_COL).isNull()).count()
    if n_null:
        raise ValueError(f"{n_null} docs have NULL {TS_COL!r} — "
                         "rejected before write (append is atomic)")
    carry = list(carry_cols) if carry_cols is not None else []
    if TS_COL not in carry:
        carry = carry + [TS_COL]
    target = os.path.realpath(_write_alias(root, name))
    meta = load_meta(target)
    if int(meta.get("n_docs", 0)) == 0 and not catalog.table_exists(
            target, "docstats"):
        # first write into a fresh shell (stream creation or a just-cut
        # generation): materialize the index with the shell's config
        from elasticsearch_osmosis_plugin_spark.config import EngineConfig
        from elasticsearch_osmosis_plugin_spark.plans.build import (
            build_index,
        )

        cfg = EngineConfig(
            k1=meta["k1"], b=meta["b"], analyzer=meta["analyzer"],
            n_segments=meta["n_segments"], n_buckets=meta["n_buckets"],
            block_size=meta["block_size"],
            store_positions=meta.get("positions", True), resume=False)
        return build_index(spark, docs, target, cfg, key_cols=key_cols,
                           id_col=id_col, text_col=text_col,
                           carry_cols=carry, n_groups=1)
    return append_index_group(
        spark, docs, target,
        key_cols=key_cols, id_col=id_col, text_col=text_col,
        carry_cols=carry)


def rollover_stream(root: str, name: str, *,
                    max_docs: int | None = None,
                    max_groups: int | None = None) -> dict[str, Any]:
    """ES ``POST <stream>/_rollover``: cut generation N+1 when a
    condition holds, repoint the write alias, record the new backing
    index in the manifest. No conditions -> unconditional roll (ES
    behavior for a bare _rollover)."""
    man = _read_manifest(root, name)
    if max_docs is None and max_groups is None:
        max_docs = 0  # unconditional: any live count satisfies >= 0
    out = catalog.rollover(_write_alias(root, name),
                           max_docs=max_docs, max_groups=max_groups)
    if out["rolled_over"]:
        man["generation"] += 1
        man["backing"] = man["backing"] + [out["new_index"]]
        _write_manifest(root, name, man)
    return out


def backing_indices(root: str, name: str,
                    live_only: bool = False) -> list[str]:
    """Backing index paths, generation order. ``live_only`` drops
    empty shells (a just-rolled generation with no docs yet) — what
    search wants; stats wants all."""
    man = _read_manifest(root, name)
    paths = list(man["backing"])
    if live_only:
        paths = [p for p in paths if int(load_meta(p)["n_docs"]) > 0]
    return paths


def search_stream(spark: SparkSession, root: str, name: str, query: str,
                  k: int = 10,
                  generations: Iterable[int] | None = None) -> DataFrame:
    """Cross-generation BM25 top-k (dfs-exact ``topk_multi`` — ranked
    as one union index). ``generations`` (1-based) prunes to named
    backing indices — the time-partition pruning path."""
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_multi

    man = _read_manifest(root, name)
    paths = man["backing"]
    if generations is not None:
        gens = sorted(set(int(g) for g in generations))
        bad = [g for g in gens if g < 1 or g > len(paths)]
        if bad:
            raise ValueError(f"unknown generations {bad} "
                             f"(stream has 1..{len(paths)})")
        paths = [paths[g - 1] for g in gens]
    paths = [p for p in paths if int(load_meta(p)["n_docs"]) > 0]
    if not paths:
        return spark.createDataFrame([], "doc_id long, score double")
    return topk_multi(spark, paths, query, k=k)


def data_stream_stats(root: str, name: str) -> dict[str, Any]:
    """ES ``GET _data_stream/<name>/_stats`` shape: generation count,
    per-backing doc counts, total live docs. Metadata-only."""
    man = _read_manifest(root, name)
    per = []
    total = 0
    for p in man["backing"]:
        meta = load_meta(p)
        live = int(meta["n_docs"]) - int(meta.get("tombstones_n") or 0)
        per.append({"index": os.path.basename(p), "docs": live})
        total += live
    return {"name": name, "generation": man["generation"],
            "backing_indices": len(man["backing"]),
            "total_docs": total, "indices": per}


def delete_data_stream(root: str, name: str) -> bool:
    """ES ``DELETE _data_stream/<name>``: removes the stream AND all
    its backing indices (that is ES's documented, destructive
    semantics). Returns acknowledgement."""
    import shutil

    if not data_stream_exists(root, name):
        return False
    shutil.rmtree(_stream_dir(root, name))
    return True
