"""Table-format abstraction: Iceberg catalog tables or parquet paths.

The deployment target (BASELINE.json north rule) stores the corpus and
the index — postings with block-max metadata included — in Apache
Iceberg tables; this sandbox has no Iceberg runtime jar, so every
writer in the hot path defaults to parquet and this module provides
the deployment seam:

* ``iceberg_available(spark)`` — detect a usable Iceberg catalog at
  runtime (extension + at least one ``spark.sql.catalog.*`` whose
  implementation class loads).
* ``write_table`` / ``read_table`` — one call site for both formats.
  Iceberg targets are catalog identifiers (``cat.db.table``, written
  via the V2 ``DataFrameWriterV2`` so partitioning/sort-order DDL and
  snapshot isolation come from the catalog); parquet targets are
  paths. Semantics are identical either way: ``overwrite`` replaces,
  ``append`` adds.
* ``publish_index`` — copy a built :class:`~..index.build.InvertedIndex`
  (plus the compressed block-max postings table, when present) into an
  Iceberg namespace. Publishing is a flat re-write of already-built
  tables — no tokenize/shuffle is re-run — so a parquet build on the
  cluster followed by an Iceberg publish costs one scan per table.

Why a seam instead of wiring Iceberg through ``build_and_write``: the
build's resume protocol (manifest + per-stage ``_SUCCESS`` markers,
``index/manifest.py``) is filesystem-level and format-agnostic already;
swapping its stage sinks to catalog tables would tie checkpoint
liveness to catalog state. Building to paths and atomically publishing
snapshots to the catalog is the standard Iceberg ingestion shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "iceberg_available",
    "is_catalog_identifier",
    "write_table",
    "read_table",
    "publish_index",
]

#: index member tables published to the catalog, in write order;
#: doc_map (docID → url, what serving needs to render results) is NOT
#: derivable from the others and must ship with the index
INDEX_TABLES = (
    "postings",
    "partials",
    "doc_map",
    "term_stats",
    "doc_stats",
    "corpus_stats",
    "blocks",
    "forward",
)

#: members a build may legitimately lack: build_and_write builds
#: materialize partials instead of row postings, and with_blocks=False
#: ones have no blocks; earlier builds and compactions have row
#: postings and no partials; forward is the opt-in doc-keyed
#: projection (with_forward=True)
_OPTIONAL_TABLES = frozenset({"blocks", "partials", "postings", "forward"})


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured AND its implementation
    class is on the JVM classpath (a config key alone proves nothing —
    a missing jar fails at first write with a classloader error)."""
    try:
        # runtime SQL conf, not the immutable SparkConf: Iceberg
        # catalogs set after session start (spark.conf.set / SQL SET)
        # are instantiated lazily from the session's SQLConf
        confs = {r["key"]: r["value"] for r in spark.sql("SET").collect()}
        confs.update(dict(spark.sparkContext.getConf().getAll()))
    except Exception:
        return False
    catalogs = [
        v for k, v in confs.items()
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3
    ]
    if not any("iceberg" in v.lower() for v in catalogs):
        return False
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


_PATHLIKE_EXTENSIONS = frozenset(
    {"parquet", "json", "csv", "txt", "orc", "avro", "out", "dir", "idx"}
)


def is_catalog_identifier(target: str, spark: SparkSession | None = None) -> bool:
    """Catalog identifiers are dotted names (``cat.db.table``); anything
    with a path separator, a URI scheme, or a file-ish extension is a
    filesystem target (``docs.parquet`` or ``index.out`` must keep
    routing to parquet exactly as it did before this seam existed).

    Routing is decided from SYNTAX plus (when a session is given) the
    session's configured catalogs — never from the local filesystem: an
    ``os.path.exists`` probe would make routing depend on the driver's
    CWD, so a stray local file named ``cat.db.table`` could silently
    reroute a catalog write into a relative parquet path. With ``spark``
    provided, a dotted name is a catalog target when any of these
    session-config/catalog facts holds — deterministic per session,
    identical on every machine:

    * its leading component is a configured catalog
      (``spark.sql.catalog.<name>``) or the built-in ``spark_catalog``
      (3-part ``<catalog>.db.table`` names);
    * it is a 2-part ``db.table`` name whose ``db`` is a database in
      the session catalog (``spark.catalog.databaseExists`` — so
      ``default.docs`` keeps routing to ``writeTo``, never to a local
      parquet directory literally named ``default.docs``);
    * ``spark.sql.defaultCatalog`` points at a configured non-default
      catalog (every dotted name then resolves inside it)."""
    if "/" in target or "\\" in target or ":" in target or "." not in target:
        return False
    if target.rsplit(".", 1)[1].lower() in _PATHLIKE_EXTENSIONS:
        return False
    if spark is not None:
        first = target.split(".", 1)[0]
        if first == "spark_catalog":
            return True
        try:
            if spark.conf.get(f"spark.sql.catalog.{first}", None) is not None:
                return True
            default = spark.conf.get("spark.sql.defaultCatalog", "spark_catalog")
            if (
                default != "spark_catalog"
                and spark.conf.get(f"spark.sql.catalog.{default}", None)
                is not None
            ):
                return True
            return target.count(".") == 1 and spark.catalog.databaseExists(first)
        except Exception:
            return False
    return True


def write_table(df: DataFrame, target: str, mode: str = "overwrite") -> None:
    """Write ``df`` to an Iceberg catalog table (dotted identifier) or a
    parquet path — one call site for both deployment shapes, with the
    parquet writer's semantics on both: ``overwrite`` replaces, and
    ``append`` adds — creating the table first when it does not exist
    yet (DataFrameWriterV2.append alone would raise on a fresh
    namespace, unlike mode("append").parquet)."""
    if is_catalog_identifier(target, df.sparkSession):
        writer = df.writeTo(target)
        if mode == "overwrite":
            writer.createOrReplace()
        elif mode == "append":
            try:
                writer.append()
            except Exception as e:
                if "TABLE_OR_VIEW_NOT_FOUND" not in str(e) and "NoSuchTable" not in str(e):
                    raise
                writer.create()
        else:
            raise ValueError(f"unsupported mode for catalog tables: {mode}")
    else:
        df.write.mode(mode).parquet(target)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    if is_catalog_identifier(target, spark):
        return spark.read.table(target)
    return spark.read.parquet(target)


def publish_index(
    spark: SparkSession, base_path: str, namespace: str, mode: str = "overwrite"
) -> list[str]:
    """Publish a built index at ``base_path`` into catalog ``namespace``
    (e.g. ``iceberg.search``) — one table per index member, the blocks
    table (block-max metadata) included when the build wrote it.

    Returns the list of published identifiers. Raises RuntimeError when
    no Iceberg catalog is usable, BEFORE writing anything."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "no usable Iceberg catalog: configure spark.sql.catalog.<name> = "
            "org.apache.iceberg.spark.SparkCatalog (+ the iceberg-spark-runtime jar)"
        )
    frames = {}
    for name in INDEX_TABLES:
        try:
            frames[name] = spark.read.parquet(f"{base_path}/{name}")
        except Exception:
            if name not in _OPTIONAL_TABLES:  # e.g. with_blocks=False builds
                raise
    if not ({"postings", "partials"} & frames.keys()):
        # both are optional INDIVIDUALLY (earlier builds and compactions
        # have postings, newer ones have partials) — but an index with NEITHER has
        # no posting data at all: a truncated/mis-pathed directory,
        # not a valid build. Probed BEFORE any write so nothing is
        # half-published.
        raise RuntimeError(
            f"{base_path} has neither 'postings' nor 'partials' — not a "
            "complete index (truncated build or wrong path?); refusing "
            "to publish a posting-less index"
        )
    published = []
    for name in INDEX_TABLES:
        if name in frames:
            write_table(frames[name], f"{namespace}.{name}", mode=mode)
            published.append(f"{namespace}.{name}")
    return published
