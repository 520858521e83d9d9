"""Persisted IVF index: the vector store as a cell-partitioned parquet
layout, so probing reads only nprobe/n_cells of the corpus FROM DISK.

The in-memory ``ivf_topk`` (similarity.py) prunes the candidate set
after scanning the whole corpus; at 100 TB the scan itself is the cost.
Writing the corpus partitioned by its IVF cell turns the probe's cell
filter into parquet PARTITION PRUNING — a query batch that probes
``nprobe`` of ``n_cells`` cells touches ``nprobe/n_cells`` of the bytes,
before any executor sees a row.  The same layout is the standard
vector-store design (FAISS IVF lists, Milvus segments) re-expressed as
parquet + Catalyst pruning.

Incremental ingest is free under this layout: a NEW embedding batch is
assigned against the SAME persisted centroids and appended to its cell
directories (``mode("append")``); results equal a full rebuild because
cell assignment is a pure function of (vector, centroids).

**Cell-skew maintenance**: a drifted corpus
concentrates appends into a few hot cells, silently degrading a probe
of the hot cell toward a full scan.  The layout is therefore TWO-LEVEL
— ``__cell=<c>/__subcell=<s>`` with ``__subcell=0`` meaning "unsplit" —
and three maintenance surfaces exist:

- ``ivf_cell_stats``: per-cell row count + on-disk bytes + share (rows
  from a partition-column groupBy, bytes from the Hadoop FileSystem
  API, so it works on hdfs/s3a like the streaming index listing);
- ``split_hot_cells``: cells above a row-share/row-count threshold are
  re-split under deterministic md5-spread sub-centroids and ONLY those
  cell directories are rewritten; the result
  row-equals a from-scratch ``write_ivf_index`` with the same
  ``sub_codebooks`` (assignment is a pure function — pinned by test);
- ``probe_ivf_index(..., nprobe_sub=...)``: probing a split cell can
  prune to the query's ``nprobe_sub`` nearest SUB-cells — a second
  partition-filter level — while ``nprobe_sub=None`` keeps the exact
  pre-split candidate set (pinned by test);
- ``rebalance_split_cells``: when appends drift a split cell until one
  SUB-cell dominates (``max_subcell_rows`` in the stats), the cell's
  sub-codebook is retrained from its current members (md5-spread
  seeds) and only that cell directory is rewritten;
- ``retrain_cell``: explicit per-cell retrain at ANY arity — the
  deepening move when a cell has drifted past what its current
  ``n_sub`` sub-centroids can separate.

**Retrain numbering / crash safety**: each cell's meta
entry carries a sub-cell ``base`` — its sub-cells occupy
``__subcell = base .. base + n_sub - 1``.  A retrain assigns the new
generation at ``base' = base + n_sub`` (a fresh, non-colliding range;
an unsplit cell has base 0 and one sub-cell, so its first split lands at
base 1), so the rewrite is append-then-delete: new directories land first, the cell's meta entry is persisted immediately
(per cell, not after the whole loop), and only then are the old-range
directories removed.  A ``_ivf_retrain_<cell>.json`` marker brackets
the three steps; ``repair_retrains`` replays or rolls back any marker
left by a crash (meta already flipped → finish the delete; meta still
old → drop the new-range directories).  At no point is the cell absent,
and the meta NEVER disagrees with the directories it prunes against:
before the meta flip, probes prune to the old range (complete, old
codebook); after, to the new range (complete, new codebook).  The only
READER window is between append and delete, where a ``nprobe_sub=None``
reader double-counts the cell.  ``split_hot_cells``,
``rebalance_split_cells`` and ``retrain_cell`` all rewrite a cell
through this one protocol (``_retrain_one``).  WRITERS must be single-writer per index during maintenance: a
concurrent ``append_to_ivf_index`` that read the meta before a
retrain's flip can land rows in the OLD ``__subcell`` range after the
retrain's delete pass runs — those rows would then be permanently
invisible to ``nprobe_sub`` probes (the new meta prunes to the new
base), a lasting loss rather than the transient double-count.  Every
public writer therefore holds the index's writer lock (``_lock_path``,
taken through ``moonshot_spark/locks.py::writer_lock``), so a concurrent
writer waits or times out instead of interleaving.  On object stores
without atomic create-if-absent that lock is best-effort; there,
serialize through the table format's commit (Iceberg/Delta) or an index
version swap (streaming/pipeline.py's versioned-index pattern), and run
``repair_retrains`` + a ``compact_ivf_ingest`` after any suspected
overlap to re-home stray rows.

Reference: the quantrocket reference has no vector surface; this is the
beyond-reference LLM-datapipe layer (cf. Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — the IVF coarse
quantizer half).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moonshot_spark.locks import writer_lock

__all__ = ["write_ivf_index", "append_to_ivf_index", "probe_ivf_index",
           "ivf_cell_stats", "split_hot_cells", "compact_ivf_ingest",
           "rebalance_split_cells", "retrain_cell", "repair_retrains"]

_CELL = "__cell"
_SUBCELL = "__subcell"
_META = "_ivf_subcells.json"
_MARKER = "_ivf_retrain_{cell}.json"

# How long a writer waits for the per-index lease before raising
# TimeoutError.  Module-level so maintenance tooling (and tests) can
# tighten it without threading a kwarg through every writer signature.
WRITER_LEASE_TIMEOUT = 600.0


def _lock_path(path: str) -> str:
    """The writer lock of the index at ``path``.  Every public writer
    holds it, so a second writer waits (or times out) instead of
    interleaving: an append that read the meta before a concurrent
    retrain's flip would land rows in the old ``__subcell`` range after
    the retrain deletes it, where ``nprobe_sub`` probes never look.  The
    lock file is a sibling of the root, not a child, so
    ``write_ivf_index``'s overwrite cannot delete it while it is held.
    Private helpers (``_retrain_one``) take no lock, and public writers
    never call each other: the lock is not re-entrant."""
    return path.rstrip("/") + ".__ivf_writer.lock"


def _norm_subs(subs: dict | None) -> dict[int, dict]:
    """Normalize a sub-codebook mapping to {cell: {"codebook", "base"}},
    the one form ``_write_meta`` writes.  Also accepts the list form
    (base=1, a first split): the public ``sub_codebooks`` argument and
    metas written before the normalized form."""
    out: dict[int, dict] = {}
    for c, v in (subs or {}).items():
        if isinstance(v, dict):
            out[int(c)] = {"codebook": v["codebook"],
                           "base": int(v.get("base", 1))}
        else:
            out[int(c)] = {"codebook": v, "base": 1}
    return out


# --------------------------------------------------------------------- #
# Hadoop FS helpers (work on file://, hdfs://, s3a:// alike)            #
# --------------------------------------------------------------------- #

def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def _write_json(spark: SparkSession, path: str, name: str, obj) -> None:
    fs, root = _fs(spark, path)
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(root, name)
    out = fs.create(jpath, True)
    out.write(bytearray(json.dumps(obj).encode()))
    out.close()


def _write_meta(spark: SparkSession, path: str,
                sub_codebooks: dict | None) -> None:
    _write_json(spark, path, _META, {str(c): v for c, v in
                                     _norm_subs(sub_codebooks).items()})


def _read_meta(spark: SparkSession, path: str) -> dict[int, dict]:
    return _norm_subs(_read_json(spark, path, _META))


def _read_json(spark: SparkSession, path: str, name: str):
    """The JSON object in ``path/name``, or None if there is none.
    Underscore names such as ``_META`` stay out of parquet discovery,
    which skips them."""
    text = _read_text(spark, f"{path.rstrip('/')}/{name}")
    return None if text is None else json.loads(text)


def _read_text(spark: SparkSession, path: str) -> str | None:
    """The UTF-8 text of the file at ``path``, or None if there is none.
    The bytes are copied JVM-side in one call: a Python bytearray handed
    to Java ``readFully`` is passed BY VALUE (py4j) and never filled, and
    ``stream.read()`` costs one py4j call per byte."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(jpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
    finally:
        stream.close()
    return baos.toString("UTF-8")


def _assign(df: DataFrame, centroids: list[list[float]], vec_col: str,
            sub_codebooks: dict | None = None) -> DataFrame:
    """(vector rows) -> rows + __cell + __subcell columns.  Subcell 0 =
    unsplit; a split cell numbers its subcells base..base+n_sub-1 (the
    0-based sub-assignment + base; base=1 for a first split), so
    "unsplit" is never aliased and a retrain generation never collides
    with the one it replaces."""
    from moonshot_spark.datapipe.similarity import ivf_assign_col

    out = df.withColumn(_CELL, ivf_assign_col(vec_col, centroids))
    sub = F.lit(0)
    for c, v in _norm_subs(sub_codebooks).items():
        sub = F.when(F.col(_CELL) == c,
                     ivf_assign_col(vec_col, v["codebook"])
                     + F.lit(v["base"])).otherwise(sub)
    return out.withColumn(_SUBCELL, sub.cast("int"))


def write_ivf_index(corpus: DataFrame, centroids: list[list[float]],
                    path: str, vec_col: str = "embedding",
                    sub_codebooks: dict[int, list[list[float]]] | None = None
                    ) -> None:
    """Materialize the corpus partitioned by (IVF cell, sub-cell).

    One linear assignment pass (Arrow-batched matmul, similarity.py::
    ivf_assign_col) and one partitioned write; no shuffle beyond the
    write's own file layout.  ``sub_codebooks`` pre-splits the given
    cells at write time (identical layout to ``split_hot_cells`` after
    the fact — the rebuild-equivalence contract)."""
    with writer_lock(_lock_path(path), WRITER_LEASE_TIMEOUT):
        (_assign(corpus, centroids, vec_col, sub_codebooks)
         .write.mode("overwrite").partitionBy(_CELL, _SUBCELL).parquet(path))
        spark = corpus.sparkSession
        _write_meta(spark, path, sub_codebooks or {})


def append_to_ivf_index(new_vecs: DataFrame, centroids: list[list[float]],
                        path: str, vec_col: str = "embedding") -> None:
    """Incremental ingest: assign the batch against the SAME centroids
    (and any persisted sub-codebooks) and append to the cell
    directories.  The post-append index is row-identical to
    ``write_ivf_index`` over the unioned corpus (cell assignment is a
    pure function of the vector and the codebook).

    The meta read happens INSIDE the writer lease: a stale meta read
    racing a retrain's flip is exactly the row-stranding interleave the
    lease exists to exclude."""
    spark = new_vecs.sparkSession
    with writer_lock(_lock_path(path), WRITER_LEASE_TIMEOUT):
        subs = _read_meta(spark, path)
        (_assign(new_vecs, centroids, vec_col, subs or None)
         .write.mode("append").partitionBy(_CELL, _SUBCELL).parquet(path))


def ivf_cell_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell health report of a persisted index: row count, on-disk
    bytes, row share, and sub-cell count.  Row counts come from a
    groupBy on the PARTITION columns (no data columns read); bytes from
    the Hadoop FileSystem content summary of each cell directory.  One
    row per cell — the input ``split_hot_cells`` thresholds on, and the
    report an operator reads to see probe-cost drift before it bites."""
    from moonshot_spark.sources.local import local_df

    counts = (spark.read.parquet(path)
              .groupBy(_CELL, _SUBCELL).agg(F.count("*").alias("__sn"))
              .groupBy(_CELL)
              .agg(F.sum("__sn").alias("n_rows"),
                   F.count("*").alias("n_subcells"),
                   F.max(_SUBCELL).alias("max_subcell"),
                   F.max("__sn").alias("max_subcell_rows")))
    fs, root = _fs(spark, path)
    sizes = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(f"{_CELL}="):
            cell = int(name.split("=", 1)[1])
            n_bytes = fs.getContentSummary(st.getPath()).getLength()
            sizes.append((cell, n_bytes))
    bytes_df = local_df(spark, sizes, f"{_CELL} int, n_bytes bigint")
    # unpartitioned window over ONE ROW PER CELL — bounded by the
    # codebook size, never data scale (the single-partition allow-list
    # class of exemption)
    total = F.sum("n_rows").over(Window.partitionBy())
    out = (counts.join(F.broadcast(bytes_df), _CELL, "left")
           .withColumn("row_share",
                       F.col("n_rows").cast("double")
                       / total.cast("double")))
    return out.select(F.col(_CELL).alias("cell"), "n_rows", "n_bytes",
                      "row_share", "n_subcells", "max_subcell",
                      "max_subcell_rows")


def split_hot_cells(spark: SparkSession, path: str,
                    centroids: list[list[float]],
                    max_share: float = 0.2,
                    max_rows: int | None = None,
                    n_sub: int = 4,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding"
                    ) -> dict[int, list[list[float]]]:
    """Re-split every unsplit cell whose row share exceeds ``max_share``
    (or row count exceeds ``max_rows``) into ``n_sub`` sub-cells, and
    rewrite ONLY those cell directories.

    Each cell goes through ``_retrain_one``: md5-spread seeds, the
    marker protocol ``repair_retrains`` replays, and a per-cell meta
    flip.  The re-split index row-equals a from-scratch
    ``write_ivf_index(corpus, centroids, sub_codebooks=<returned>)``
    (pinned by test).  Already-split cells are left alone
    (``rebalance_split_cells`` and ``retrain_cell`` re-split those; the
    stats report shows ``max_subcell`` so the operator can see residual
    skew).  ``centroids`` is accepted for signature stability.

    Returns the NEW sub-codebooks {cell: codebook}."""
    with writer_lock(_lock_path(path), WRITER_LEASE_TIMEOUT):
        meta = _read_meta(spark, path)
        stats = {r["cell"]: r for r in ivf_cell_stats(spark, path).collect()}
        hot = [c for c, r in sorted(stats.items())
               if c not in meta
               and (r["row_share"] > max_share
                    or (max_rows is not None and r["n_rows"] > max_rows))]
        new_subs: dict[int, list[list[float]]] = {}
        for c in hot:
            entry = _retrain_one(spark, path, c, n_sub, meta, id_col, vec_col)
            if entry is not None:
                new_subs[c] = entry["codebook"]
        return new_subs


def probe_ivf_index(spark: SparkSession, path: str, queries: DataFrame,
                    centroids: list[list[float]], nprobe: int = 4,
                    k: int = 5, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    nprobe_sub: int | None = None) -> DataFrame:
    """Top-k cosine neighbors from the PERSISTED index — bit-identical
    to ``ivf_topk`` over the same corpus/centroids/nprobe (same
    assignment, same scoring, same two-phase reduction), but the scan is
    cut down by partition pruning BEFORE it starts:

    1. the query batch's probe cells are computed (queries × nprobe,
       driver-bounded: the query set is the small side by contract —
       collect() here is |queries|·nprobe ints, not corpus data);
    2. the index scan gets a PARTITION filter — ``__cell IN (distinct
       probe cells)``, narrowed further to ``(__cell, __subcell)``
       pairs for split cells when ``nprobe_sub`` is given — so only
       those directories are read (``PartitionFilters`` in the plan,
       pinned by the test);
    3. the per-(query, cell) candidate join and grouped_topk run on the
       pruned candidates only.

    ``nprobe_sub=None`` probes ALL sub-cells of each probed cell: the
    candidate set — and therefore the result — is exactly the unsplit
    index's (pinned by test).  Setting it prunes a split cell to the
    query's ``nprobe_sub`` nearest sub-cells, the same approximation
    step the top level already makes.
    """
    from moonshot_spark.datapipe.similarity import (
        _cosine_udf, _topk, ivf_probe_col)

    q = (queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
         .withColumn(_CELL, F.explode(
             ivf_probe_col("__qvec", centroids, nprobe))))
    probe_cells = sorted({r[_CELL] for r in q.select(_CELL)
                          .distinct().collect()})
    subs = _read_meta(spark, path) if nprobe_sub is not None else {}
    hot = {c: subs[c] for c in probe_cells if c in subs}

    if not hot:
        index = spark.read.parquet(path).where(
            F.col(_CELL).isin(probe_cells))
        joined = index.join(F.broadcast(q), _CELL)
    else:
        cold = [c for c in probe_cells if c not in hot]
        # per-hot-cell sub-probe: each hot cell has its own sub-codebook,
        # so the (query, cell) rows probing it get their own nearest
        # sub-cells; hot-cell candidates join on (cell, subcell)
        hot_parts = []
        for c, v in sorted(hot.items()):
            base = F.lit(v["base"])
            hot_parts.append(
                q.where(F.col(_CELL) == c)
                .withColumn(_SUBCELL, F.explode(F.transform(
                    ivf_probe_col("__qvec", v["codebook"], nprobe_sub),
                    lambda x: x + base))))
        hot_q = hot_parts[0]
        for p in hot_parts[1:]:
            hot_q = hot_q.unionByName(p)
        pairs = sorted({(r[_CELL], r[_SUBCELL]) for r in
                        hot_q.select(_CELL, _SUBCELL).distinct().collect()})
        part_filter = F.col(_CELL).isin(cold) if cold else F.lit(False)
        for c, s in pairs:
            part_filter = part_filter | (
                (F.col(_CELL) == c) & (F.col(_SUBCELL) == s))
        index = spark.read.parquet(path).where(part_filter)
        keep = [query_id_col, "__qvec", id_col, vec_col]
        cold_join = (index.join(
            F.broadcast(q.where(F.col(_CELL).isin(cold))), _CELL)
            .select(*keep)) if cold else None
        hot_join = (index.join(F.broadcast(hot_q), [_CELL, _SUBCELL])
                    .select(*keep))
        joined = (hot_join if cold_join is None
                  else cold_join.unionByName(hot_join))

    sim = _cosine_udf(F.col(vec_col), F.col("__qvec"))
    return _topk(joined, sim, "cosine", k, id_col, query_id_col)


def compact_ivf_ingest(spark: SparkSession, stream_root: str,
                       batch_root: str) -> None:
    """Compact a streaming-ingest root (``ingest=<batch>/__cell=.../
    __subcell=...`` generations written by
    ``streaming/pipeline.py::stream_ivf_ingest``) into a plain
    batch-layout root, where ``ivf_cell_stats`` / ``split_hot_cells``
    apply.  Rows keep their (cell, subcell) assignment verbatim — no
    re-assignment pass, so the compaction is a pure layout rewrite and
    probing the compacted root equals probing the streaming root
    (pinned by test).  The streaming root's meta (if any) is carried
    over.  Writes are one partitioned write of the unioned generations;
    run it between stream restarts or against a snapshot — the same
    compaction window any file-format maintenance has."""
    with writer_lock(_lock_path(batch_root), WRITER_LEASE_TIMEOUT):
        df = spark.read.parquet(stream_root).drop("ingest")
        (df.write.mode("overwrite").partitionBy(_CELL, _SUBCELL)
         .parquet(batch_root))
        _write_meta(spark, batch_root, _read_meta(spark, stream_root))


def _delete_subcell_range(spark: SparkSession, path: str, cell: int,
                          base: int, n: int) -> None:
    jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs, root = _fs(spark, path)
    for s in range(base, base + n):
        d = jvm_path(root, f"{_CELL}={cell}/{_SUBCELL}={s}")
        if fs.exists(d):
            fs.delete(d, True)


def _retrain_one(spark: SparkSession, path: str, cell: int, n_sub: int,
                 meta: dict[int, dict], id_col: str, vec_col: str
                 ) -> dict | None:
    """Crash-safe single-cell retrain at arity ``n_sub``; the one
    engine under ``split_hot_cells``, ``rebalance_split_cells`` and
    ``retrain_cell``.

    Seeding is an md5-spread pick — the ``n_sub`` members with the
    lowest ``md5(id)`` — deterministic but decorrelated from insertion
    order, so a drifted cell whose LOW-ID members all sit in one clump
    still gets seeds across the current distribution.

    Protocol (see module docstring): marker → append the new generation
    at ``base' = old_base + old_n`` (fresh ``__subcell`` range, no
    collision with live directories) → persist THIS cell's meta entry →
    delete the old range → drop the marker.  Mutates ``meta`` in place
    so a caller looping over cells always writes a current merged view.
    Returns the new normalized meta entry, or None when the cell has
    <2 distinct seeds or the retrain would be a same-arity no-op."""
    from moonshot_spark.datapipe.similarity import ivf_assign_col

    old = meta.get(cell)
    old_base = old["base"] if old else 0      # unsplit rows live at subcell 0
    old_n = len(old["codebook"]) if old else 1
    new_base = old_base + old_n
    # file listing is fixed when the DataFrame is created, BEFORE the
    # append below lands new files — the rewrite reads only the old
    # generation
    cell_rows = (spark.read.parquet(path)
                 .where(F.col(_CELL) == cell).drop(_CELL, _SUBCELL))
    seeds = (cell_rows
             .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
             .limit(n_sub).select(vec_col).collect())
    sub_cb = [[float(x) for x in r[0]] for r in seeds]
    if len(sub_cb) < 2 or (old is not None and sub_cb == old["codebook"]):
        return None                           # nothing to retrain toward
    entry = {"codebook": sub_cb, "base": new_base}
    marker = _MARKER.format(cell=cell)
    _write_json(spark, path, marker,
                {"cell": cell, "old_base": old_base, "old_n": old_n,
                 "new_base": new_base, "n_sub": len(sub_cb)})
    (cell_rows
     .withColumn(_CELL, F.lit(cell))
     .withColumn(_SUBCELL,
                 (ivf_assign_col(vec_col, sub_cb) + F.lit(new_base))
                 .cast("int"))
     .write.mode("append").partitionBy(_CELL, _SUBCELL).parquet(path))
    # flip the meta for THIS cell now, not after the caller's loop, so a
    # crash mid-loop leaves no retrained cell unrecorded; from here on
    # sub-probes prune to the new, complete generation
    meta[cell] = entry
    _write_meta(spark, path, meta)
    _delete_subcell_range(spark, path, cell, old_base, old_n)
    fs, root = _fs(spark, path)
    fs.delete(spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        root, marker), False)
    return entry


def retrain_cell(spark: SparkSession, path: str, cell: int, n_sub: int,
                 id_col: str = "vec_id", vec_col: str = "embedding"
                 ) -> dict | None:
    """Retrain ONE cell's sub-codebook at an explicit arity — the
    DEEPENING move: when a split cell's hot
    sub-cell keeps absorbing drifted appends past what its current
    ``n_sub`` sub-centroids can separate (``ivf_cell_stats.
    max_subcell_rows`` keeps growing), re-split the whole cell with a
    LARGER sub-codebook.  Works on unsplit cells too (an explicit
    split at chosen arity, md5-seeded).

    Only the named cell's directories are touched; results row-equal a
    fresh ``write_ivf_index(corpus, centroids, sub_codebooks={cell:
    <returned entry>})`` (pinned by test).  Returns the new meta entry
    ``{"codebook": ..., "base": ...}`` or None if the cell has <2
    distinct seed members."""
    with writer_lock(_lock_path(path), WRITER_LEASE_TIMEOUT):
        meta = _read_meta(spark, path)
        return _retrain_one(spark, path, cell, n_sub, meta, id_col, vec_col)


def repair_retrains(spark: SparkSession, path: str) -> dict[int, str]:
    """Finish or roll back retrains interrupted mid-flight (crash
    between marker creation and marker removal).  For each
    ``_ivf_retrain_<cell>.json`` marker: if the cell's meta entry
    already points at the marker's new base, the meta flip happened —
    FINISH by deleting the old-range directories; otherwise the new
    generation is a partial append the meta never referenced — ROLL
    BACK by deleting the new-range directories.  Either way the index
    returns to a state where meta and directories agree and the retrain
    can be re-run.  Returns {cell: "finished" | "rolled_back"}."""
    with writer_lock(_lock_path(path), WRITER_LEASE_TIMEOUT):
        fs, root = _fs(spark, path)
        jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        out: dict[int, str] = {}
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not (name.startswith("_ivf_retrain_")
                    and name.endswith(".json")):
                continue
            m = _read_json(spark, path, name)
            meta = _read_meta(spark, path)
            c = int(m["cell"])
            cur = meta.get(c)
            if cur is not None and cur["base"] == m["new_base"]:
                _delete_subcell_range(spark, path, c, m["old_base"],
                                      m["old_n"])
                out[c] = "finished"
            else:
                _delete_subcell_range(spark, path, c, m["new_base"],
                                      m["n_sub"])
                out[c] = "rolled_back"
            fs.delete(jvm_path(root, name), False)
        return out


def rebalance_split_cells(spark: SparkSession, path: str,
                          centroids: list[list[float]],
                          max_subcell_share: float = 0.5,
                          n_sub: int = 4,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding"
                          ) -> dict[int, dict]:
    """Re-split every SPLIT cell whose sub-codebook has drifted: when
    one sub-cell holds more than ``max_subcell_share`` of its cell's
    rows (``ivf_cell_stats.max_subcell_rows``), retrain a fresh
    ``n_sub`` sub-codebook from the cell's CURRENT members and rewrite
    only that cell — closing the loop ``split_hot_cells`` leaves open
    (appends drift the data away from the original sub-centroids;
    splitting again with the same seeds would be a no-op).  ``n_sub``
    may exceed the cell's current arity — rebalance and deepening are
    the same move at different arities (``retrain_cell`` is the
    explicit single-cell form).

    Each cell goes through the crash-safe retrain protocol
    (``_retrain_one``): append-then-delete under a fresh ``__subcell``
    base, per-cell meta persistence, and a marker that
    ``repair_retrains`` can replay — a crash mid-loop never loses a
    cell or leaves the meta disagreeing with the directories.
    ``centroids`` is accepted for signature stability but the
    rewrite needs only the cell's own rows.  Returns {cell: new meta
    entry}."""
    with writer_lock(_lock_path(path), WRITER_LEASE_TIMEOUT):
        meta = _read_meta(spark, path)
        if not meta:
            return {}
        stats = {r["cell"]: r for r in ivf_cell_stats(spark, path).collect()}
        drifted = [c for c in sorted(meta)
                   if c in stats and stats[c]["n_rows"] > 0
                   and stats[c]["max_subcell_rows"]
                   > max_subcell_share * stats[c]["n_rows"]]
        new_subs: dict[int, dict] = {}
        for c in drifted:
            entry = _retrain_one(spark, path, c, n_sub, meta, id_col, vec_col)
            if entry is not None:
                new_subs[c] = entry
        return new_subs
