package org.apache.spark.sql

import org.apache.spark.internal.config.{ConfigEntry, OptionalConfigEntry}
import scala.collection.mutable

/** A map-backed session conf for specs that run without a session. It
  * lives in Spark's package because `RuntimeConfig`'s typed-entry
  * overloads take `private[spark]` types; those throw here. */
class MapRuntimeConfig(init: (String, String)*) extends RuntimeConfig {
  private val m = mutable.Map(init: _*)
  override def set(key: String, value: String): Unit = m(key) = value
  override def getOption(key: String): Option[String] = m.get(key)
  override def unset(key: String): Unit = m.remove(key)
  override def get(key: String): String = m(key)
  override def get(key: String, default: String): String = m.getOrElse(key, default)
  override def getAll: Map[String, String] = m.toMap
  override def contains(key: String): Boolean = m.contains(key)
  override def isModifiable(key: String): Boolean = true
  override def set[T](entry: ConfigEntry[T], value: T): Unit = ???
  override def get[T](entry: ConfigEntry[T]): T = ???
  override def get[T](entry: OptionalConfigEntry[T]): Option[T] = ???
  override def get[T](entry: ConfigEntry[T], default: T): T = ???
}
