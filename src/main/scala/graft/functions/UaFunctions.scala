package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}

/** User-agent Columns: the [[UaClassify]] struct, or one of its fields. */
object UaFunctions {
  /** `struct<browser: string, os: string, bot: boolean>`, never null. */
  def uaClassify(ua: Column): Column = column(UaClassify(expression(ua)))

  /** Browser family from a raw User-Agent string; null/empty/"-" → Unknown. */
  def uaBrowserFamily(ua: Column): Column = uaClassify(ua).getField("browser")

  /** OS family from a raw User-Agent string; null/empty/"-" → Unknown. */
  def uaOsFamily(ua: Column): Column = uaClassify(ua).getField("os")

  /** The reference's bot token match; null/empty/"-" UA → false. */
  def isBot(ua: Column): Column = uaClassify(ua).getField("bot")
}
