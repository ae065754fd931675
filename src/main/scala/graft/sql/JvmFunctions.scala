package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.api.java._
import org.apache.spark.sql.types._

/** `CREATE FUNCTION name AS 'class'` execution: load a user JVM scalar
  * function and register it on the session — the reference's
  * ScalarFunction contract (flink-table-common
  * functions/ScalarFunction.java: a public `eval` method on a
  * default-constructible class), minus the planner's overload
  * resolution (exactly one `eval` here). `USING JAR` paths load through
  * a child URLClassLoader, like the reference's resource-URI function
  * DDL (SqlCreateFunction.java resource list).
  */
object JvmFunctions {

  private def sparkTypeOf(c: Class[_]): DataType = c match {
    case x if x == classOf[String] => StringType
    case x if x == java.lang.Integer.TYPE || x == classOf[java.lang.Integer] =>
      IntegerType
    case x if x == java.lang.Long.TYPE || x == classOf[java.lang.Long] =>
      LongType
    case x if x == java.lang.Double.TYPE || x == classOf[java.lang.Double] =>
      DoubleType
    case x if x == java.lang.Float.TYPE || x == classOf[java.lang.Float] =>
      FloatType
    case x if x == java.lang.Boolean.TYPE || x == classOf[java.lang.Boolean] =>
      BooleanType
    case x if x == java.lang.Short.TYPE || x == classOf[java.lang.Short] =>
      ShortType
    case x if x == java.lang.Byte.TYPE || x == classOf[java.lang.Byte] =>
      ByteType
    case x if x == classOf[Array[Byte]] => BinaryType
    case x if x == classOf[java.math.BigDecimal] => DecimalType.SYSTEM_DEFAULT
    case x if x == classOf[java.sql.Timestamp] => TimestampType
    case x if x == classOf[java.sql.Date] => DateType
    case other => throw new IllegalArgumentException(
      s"unsupported eval return type ${other.getName} — supported: " +
        "String, numeric primitives/boxes, Boolean, byte[], BigDecimal, " +
        "java.sql.Timestamp/Date")
  }

  private def load(className: String, jars: Seq[String])
      : (AnyRef, java.lang.reflect.Method) = {
    val loader =
      if (jars.isEmpty) Thread.currentThread.getContextClassLoader
      else new java.net.URLClassLoader(
        jars.map(p => new java.io.File(p).toURI.toURL).toArray,
        Thread.currentThread.getContextClassLoader)
    val cls =
      try Class.forName(className, true, loader)
      catch {
        case _: ClassNotFoundException => throw new IllegalArgumentException(
          s"CREATE FUNCTION: class $className not found" +
            (if (jars.isEmpty) " on the session classpath"
             else s" in ${jars.mkString(", ")}"))
      }
    val inst = cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
    val evals = cls.getMethods.filter(_.getName == "eval")
    require(evals.nonEmpty,
      s"$className has no public eval method (the ScalarFunction contract)")
    require(evals.length == 1,
      s"$className has ${evals.length} eval overloads; this runner " +
        "supports exactly one")
    (inst, evals.head)
  }

  /** Serializable call wrapper: ships only (class name, jar paths) and
    * instantiates the user function lazily on each executor — the
    * reference's open-per-task function lifecycle, and the reason the
    * closure never captures the (usually non-serializable) instance.
    */
  private final class Invoker(className: String, jars: Seq[String])
      extends Serializable {
    @transient private lazy val target: (AnyRef, java.lang.reflect.Method) =
      load(className, jars)
    def apply(args: AnyRef*): Any = target._2.invoke(target._1, args: _*)
  }

  def register(
      spark: SparkSession,
      name: String,
      className: String,
      jars: Seq[String] = Nil): Unit = {
    // driver-side load validates the class and fixes the return type
    val (_, m) = load(className, jars)
    val ret = sparkTypeOf(m.getReturnType)
    val inv = new Invoker(className, jars)
    m.getParameterCount match {
      case 0 => spark.udf.register(name, new UDF0[Any] {
        override def call(): Any = inv()
      }, ret)
      case 1 => spark.udf.register(name, new UDF1[AnyRef, Any] {
        override def call(a: AnyRef): Any = inv(a)
      }, ret)
      case 2 => spark.udf.register(name, new UDF2[AnyRef, AnyRef, Any] {
        override def call(a: AnyRef, b: AnyRef): Any = inv(a, b)
      }, ret)
      case 3 => spark.udf.register(name,
        new UDF3[AnyRef, AnyRef, AnyRef, Any] {
          override def call(a: AnyRef, b: AnyRef, c: AnyRef): Any =
            inv(a, b, c)
        }, ret)
      case 4 => spark.udf.register(name,
        new UDF4[AnyRef, AnyRef, AnyRef, AnyRef, Any] {
          override def call(a: AnyRef, b: AnyRef, c: AnyRef, d: AnyRef): Any =
            inv(a, b, c, d)
        }, ret)
      case 5 => spark.udf.register(name,
        new UDF5[AnyRef, AnyRef, AnyRef, AnyRef, AnyRef, Any] {
          override def call(a: AnyRef, b: AnyRef, c: AnyRef, d: AnyRef,
              e: AnyRef): Any = inv(a, b, c, d, e)
        }, ret)
      case n => throw new IllegalArgumentException(
        s"$className.eval takes $n parameters; up to 5 supported")
    }
  }
}
