package perfbench

import graft.api.{HttpBinding, Wire}
import graft.model.Canon
import org.apache.spark.sql.DataFrame

/** The reply body `graft.api.HttpBinding` renders for a route's frame.
  * The in-process replays call the binding's own (private) `render`, so
  * their replies and Spark jobs are the ones the HTTP path produces. */
object Render {
  def of(binding: HttpBinding): DataFrame => String =
    classOf[HttpBinding].getDeclaredMethods.find(m =>
      (m.getName == "render" || m.getName.endsWith("$$render")) &&
        m.getParameterTypes.toSeq == Seq(classOf[DataFrame])) match {
      case Some(m) =>
        m.setAccessible(true)
        df => try m.invoke(binding, df).asInstanceOf[String]
          catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      case None =>
        System.err.println("[perfbench] HttpBinding has no render(DataFrame); " +
          "the replays use perfbench.Render.copy")
        copy
    }

  /** A copy of HttpBinding's render at the commit that added the
    * benchmark, for a binding that no longer has one: canonical rows
    * become a wire point array, the names route a string array, anything
    * else one object per row. */
  def copy(df: DataFrame): String = {
    val cols = df.columns.toSeq
    if (cols == Canon.schema.fieldNames.toSeq)
      Wire.toJsonRows(df).collect().map(_.getString(0)).mkString("[", ",", "]")
    else if (cols == Seq(Canon.SERIES))
      df.collect().map(r => Json.str(r.getString(0))).mkString("[", ",", "]")
    else {
      val rows = Wire.aggToJson(df).collect().map(_.getString(0))
      rows.length match {
        case 0 => "{}"
        case 1 => rows(0)
        case _ => rows.mkString("[", ",", "]")
      }
    }
  }
}
