package graft.perfbench

import java.lang.invoke.SerializedLambda

import scala.collection.mutable

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Handle, MethodVisitor, Opcodes}

/** Static classification of the registered queries, read from the
  * compiled engine without running anything: a query is a streaming
  * query when the code its `QueryDef.fn` can reach (calls into `graft`
  * classes and the lambdas they create, followed transitively) opens a
  * `readStream` or `writeStream`. */
object Classify {
  private type Method = (String, String, String) // owner, name, descriptor

  private val classes =
    mutable.Map.empty[String, Map[(String, String), mutable.ArrayBuffer[Method]]]

  /** Calls and lambda bodies of every method of one engine class. */
  private def callsOf(owner: String): Map[(String, String), mutable.ArrayBuffer[Method]] =
    classes.getOrElseUpdate(owner, {
      val in = getClass.getClassLoader.getResourceAsStream(owner + ".class")
      if (in == null) Map.empty
      else try {
        val out = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Method]]
        new ClassReader(in).accept(new ClassVisitor(Opcodes.ASM9) {
          override def visitMethod(acc: Int, name: String, desc: String, sig: String,
              ex: Array[String]): MethodVisitor = {
            val calls = mutable.ArrayBuffer.empty[Method]
            out((name, desc)) = calls
            new MethodVisitor(Opcodes.ASM9) {
              override def visitMethodInsn(op: Int, o: String, n: String, d: String,
                  itf: Boolean): Unit = calls += ((o, n, d))
              override def visitInvokeDynamicInsn(n: String, d: String, bsm: Handle,
                  args: Object*): Unit = args.foreach {
                case h: Handle => calls += ((h.getOwner, h.getName, h.getDesc))
                case _ =>
              }
            }
          }
        }, ClassReader.SKIP_DEBUG)
        out.toMap
      } finally in.close()
    })

  private def opensStream(m: Method): Boolean =
    m._2 == "readStream" || m._2 == "writeStream" || m._1.contains("/streaming/DataStream")

  /** Does anything reachable from `fn` open a streaming reader or writer? */
  def streaming(fn: AnyRef): Boolean = {
    val wr = fn.getClass.getDeclaredMethod("writeReplace")
    wr.setAccessible(true)
    val l = wr.invoke(fn).asInstanceOf[SerializedLambda]
    val seen = mutable.Set.empty[Method]
    val todo = mutable.Stack[Method]((l.getImplClass, l.getImplMethodName, l.getImplMethodSignature))
    while (todo.nonEmpty) {
      val m = todo.pop()
      if (seen.add(m)) {
        val calls = callsOf(m._1).getOrElse((m._2, m._3), mutable.ArrayBuffer.empty[Method])
        if (calls.exists(opensStream)) return true
        todo.pushAll(calls.filter(_._1.startsWith("graft/")))
      }
    }
    false
  }

  /** Every registered query with its module (the engine object whose
    * code built its fn), oracle flag and streaming flag. */
  def registry(): Seq[Map[String, Any]] = {
    val oracle = graft.SparkEntry.oracleSql.keySet
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      Map("name" -> n, "module" -> fn.getClass.getName.split('$').head,
        "oracle" -> oracle(n), "streaming" -> streaming(fn))
    }
  }
}
