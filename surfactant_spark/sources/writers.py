"""Sinks and export projections (S7-S10).

The canonical sink is partitioned parquet (Iceberg-shaped; see
plans/pipeline.SnapshotStore for the snapshot seam). The CSV/JSON
export writers are *projections* of the node/edge tables, mirroring the
reference's writer plugins:

- CSV: one output row per install path — an explode
  (`surfactant/output/csv_writer.py:55-74`);
- CyTRICS-style JSON: nested document per node
  (`surfactant/output/cytrics_writer.py:12-15`);
- SPDX-like: relationship triples with namespaced predicates
  (`surfactant/output/spdx_writer.py:31-613`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def csv_export(nodes: DataFrame) -> DataFrame:
    """One row per (node, alias path) — the reference CSV writer's
    explode (`output/csv_writer.py:55-74`)."""
    return nodes.select(
        F.col("canon_uuid"),
        F.col("sha256"),
        F.explode("aliases").alias("path"),
        # try_: a node with no surviving title has an empty names array,
        # and under ANSI mode plain element_at throws on it
        F.try_element_at(F.col("names"), F.lit(1)).alias("name"),
        F.col("first_seen"),
    )


def json_export(nodes: DataFrame, edges: DataFrame):
    """CyTRICS-shaped nested JSON projections (node docs + edge docs)."""
    node_docs = nodes.select(
        F.to_json(
            F.struct(
                F.col("canon_uuid").alias("UUID"),
                F.col("sha256"),
                F.col("names").alias("fileName"),
                F.col("aliases").alias("installPath"),
                F.col("n_sources"),
            )
        ).alias("json")
    )
    edge_docs = edges.select(
        F.to_json(
            F.struct(
                F.col("subj_uuid").alias("xUUID"),
                F.col("obj_uuid").alias("yUUID"),
                F.col("pred").alias("relationship"),
            )
        ).alias("json")
    )
    return node_docs, edge_docs


def spdx_like_export(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """SPDX-flavoured relationship projection: predicates mapped to the
    SPDX vocabulary, container duplicates collapsed
    (`output/spdx_writer.py:66-73` dedup analogue)."""
    pred_map = F.when(F.col("pred") == "Contains", "CONTAINS").when(
        F.col("pred") == "Uses", "DEPENDS_ON"
    ).otherwise(F.upper(F.col("pred")))
    return (
        edges.select(
            F.concat(F.lit("SPDXRef-"), F.col("subj_uuid")).alias("spdxElementId"),
            pred_map.alias("relationshipType"),
            F.concat(F.lit("SPDXRef-"), F.col("obj_uuid")).alias("relatedSpdxElement"),
        )
        .dropDuplicates()
    )


def cyclonedx_like_export(nodes: DataFrame, edges: DataFrame):
    """CycloneDX-flavoured projections (`output/cyclonedx_writer.py:19-320`
    analogue): a components table and a dependencies table keyed by
    bom-ref, container duplicates collapsed (`:66-73`)."""
    components = nodes.select(
        F.concat(F.lit("ref-"), F.col("canon_uuid")).alias("bom_ref"),
        F.try_element_at(F.col("names"), F.lit(1)).alias("name"),
        F.col("sha256").alias("hash_sha256"),
        F.lit("library").alias("type"),
    )
    dependencies = (
        edges.where(F.col("pred") == "Uses")
        .select(
            F.concat(F.lit("ref-"), F.col("subj_uuid")).alias("ref"),
            F.concat(F.lit("ref-"), F.col("obj_uuid")).alias("dependsOn"),
        )
        .dropDuplicates()
    )
    return components, dependencies


def write_train_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Training-shard export: the corpus hash-bucketed into ``n_shards``
    stable shards (the final sink of a data-curation pipeline — each
    shard is one training-reader unit). Assignment is the portable
    md5 bucket of the SALTED id ('shard:v1:' prefix, the hash_split
    discipline) so the same document lands in the same shard in any
    engine, any run, any cluster size — never a round-robin or a
    Spark-internal hash that a re-run could reshuffle.

    One repartition ON THE SHARD KEY feeds partitionBy, so each shard
    directory is written by exactly one task (no small-file explosion:
    without the repartition every task writes every shard dir). At 100
    TB raise n_shards, not file count per shard."""
    from ..operators.dedup import portable_hash64_col

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    staged = docs.withColumn(
        "shard",
        F.pmod(
            portable_hash64_col(
                F.concat(F.lit("shard:v1:"), F.col(id_col).cast("string"))
            ),
            F.lit(n_shards),
        ).cast("int"),
    )
    staged.repartition("shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(out_dir)


def shard_manifest(
    spark, out_dir: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Read a write_train_shards export back and compute its manifest:
    per shard (shard, n_docs, n_tokens, min_doc, max_doc, content_sum)
    where content_sum is an order-independent exact integer content
    fingerprint (sum of each doc's md5 bucket mod 1e9 — bounded far
    below int64 overflow at any shard size). Equality of the manifest
    against the same aggregation over the ORIGINAL table proves the
    sink is lossless and the assignment deterministic — the
    warc/sbom_roundtrip discipline for the shard sink."""
    from ..operators.dedup import portable_hash64_col
    from ..operators.textops import token_count_col

    back = spark.read.parquet(out_dir)
    return back.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col(F.col(text_col))).cast("long").alias("n_tokens"),
        F.min(id_col).cast("long").alias("min_doc"),
        F.max(id_col).cast("long").alias("max_doc"),
        F.sum(
            F.pmod(portable_hash64_col(F.col(text_col)), F.lit(1_000_000_000))
        )
        .cast("long")
        .alias("content_sum"),
    )
