package graft.catalog

import graft.model.GraphStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * SchemaManager analog — the runtime catalog the reference resolves
 * every request against: spaces contain versioned tag/edge schemas with
 * per-field nullability and default expressions, optional TTL
 * (column + duration), and fixed-string widths (reference: the cached
 * MetaClient schema lookups in src/storage/query/QueryBaseProcessor
 * .inl:236-255; TTL metadata read by CommonUtils::checkDataExpiredForTTL;
 * FIXED_STRING widths in src/codec/RowWriterV2.h:54-67).
 *
 * Readers go through [[CatalogReader.readTag]] so the catalog's TTL
 * filter, schema-version defaults, and fixed-string normalization are
 * applied uniformly — the same "every read path sees TTL" invariant the
 * reference enforces in each iterator.
 */
object Catalog {

  final case class FieldDef(
      name: String,
      sinceVersion: Int = 1,
      default: Option[Column] = None,
      fixedWidth: Option[Int] = None)

  final case class TtlDef(column: String, durationSec: Long)

  final case class TagDef(
      name: String,
      fields: Seq[FieldDef],
      ttl: Option[TtlDef] = None)

  final case class EdgeDef(
      name: String,
      typeId: Int,
      fields: Seq[FieldDef],
      ttl: Option[TtlDef] = None)

  final case class SpaceDef(
      name: String,
      tags: Map[String, TagDef],
      edges: Map[String, EdgeDef])
}

object CatalogReader {
  import Catalog._

  /**
   * Resolve a tag read through the catalog: TTL visibility, evolved-field
   * defaults (rows older than a field's sinceVersion), and fixed-string
   * width normalization — all as one codegen'd projection + filter.
   */
  def readTag(store: GraphStore, space: SpaceDef, tag: String,
      now: Column = current_timestamp()): DataFrame = {
    val df0 = store.tag(tag)
    val tagDef = space.tags(tag)
    val afterTtl = tagDef.ttl match {
      case Some(TtlDef(c, d)) => graft.operators.Ttl.visible(df0, c, d, now)
      case None => df0
    }
    val evolved = tagDef.fields.collect {
      case FieldDef(n, since, Some(dflt), _) if since > 1 =>
        SchemaEvolution.EvolvedField(n, since, dflt)
    }
    val afterDefaults =
      if (evolved.isEmpty || !afterTtl.columns.contains(SchemaEvolution.VersionCol))
        afterTtl
      else SchemaEvolution.applyDefaults(afterTtl, evolved)
    tagDef.fields.foldLeft(afterDefaults) {
      case (df, FieldDef(n, _, _, Some(w))) =>
        df.withColumn(n,
          graft.functions.FixedString.fixedString(col(n), w))
      case (df, _) => df
    }
  }
}
