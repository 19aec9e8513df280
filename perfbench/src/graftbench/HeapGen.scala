package graftbench

import graft.heap.HprofModel.{BasicType, Sub}
import graft.heap.HprofWriter
import scala.collection.mutable

/** Seeded HPROF generator with planted waste and its ground truth.
  *
  * Object counts depend only on the [[HeapGen.Spec]]; the seed moves
  * contents (string bytes, field values, reference targets), so every
  * seed does the same amount of work. The class mix is skewed the way
  * real dumps are: most objects are String / byte[] / Object[] /
  * HashMap nodes, and most application classes have a handful of
  * instances.
  */
object HeapGen {

  final case class Spec(
      appClasses: Int, appInstances: Int, strings: Int, dupGroups: Int,
      dupCopies: Int, boxes: Int, maps: Int, lists: Int, arrays: Int,
      primArrays: Int, threads: Int, growBy: Int = 0)

  /** The application class an "after" dump grows by `growBy` instances. */
  val growClass = 5

  /** What the generator wrote, in the terms the checks read back. */
  final class Truth {
    /** class-table directory name (`<class>_<classObjId>`) -> rows */
    val classTableRows = mutable.LinkedHashMap.empty[String, Long]
    /** class name -> instance count */
    val classRows = mutable.LinkedHashMap.empty[String, Long]
    /** system table -> rows */
    val systemRows = mutable.LinkedHashMap.empty[String, Long]
    /** waste check name -> expected affected_count */
    val waste = mutable.LinkedHashMap.empty[String, Long]
    /** (obj id, class name) of sampled application instances */
    val lookups = mutable.ArrayBuffer.empty[(Long, String)]
    /** per scanned class: the `b` field of every instance */
    val scanValues = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
    var bytes: Long = 0L
  }

  def appClassName(i: Int): String = f"com.graftbench.app.C$i%03d"

  /** Instances of application class `i`: a steep power law, at least 1. */
  def appCount(spec: Spec, i: Int): Int = {
    val norm = (0 until spec.appClasses).map(k => 1.0 / math.pow(k + 1, 1.3)).sum
    math.max(1, (spec.appInstances / norm / math.pow(i + 1, 1.3)).toInt)
  }

  /** The classes whose `b` column the serving queries scan. */
  val scanClasses: Seq[Int] = Seq(0, 1, 2, 7)

  def write(path: String, spec: Spec, seed: Long): Truth = {
    val rnd = new scala.util.Random(seed)
    val truth = new Truth
    val w = new HprofWriter()
    val objCls = w.defineClass("java.lang.Object")
    val strCls = w.defineClass("java.lang.String", objCls,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val intCls = w.defineClass("java.lang.Integer", objCls,
      instanceFields = Seq("value" -> BasicType.Int))
    val mapCls = w.defineClass("java.util.HashMap", objCls,
      instanceFields = Seq("size" -> BasicType.Int, "table" -> BasicType.Object))
    val nodeCls = w.defineClass("java.util.HashMap$Node", objCls,
      instanceFields = Seq("hash" -> BasicType.Int, "key" -> BasicType.Object,
        "value" -> BasicType.Object, "next" -> BasicType.Object))
    val listCls = w.defineClass("java.util.ArrayList", objCls,
      instanceFields = Seq("size" -> BasicType.Int, "elementData" -> BasicType.Object))
    val threadCls = w.defineClass("java.lang.Thread", objCls,
      instanceFields = Seq("threadStatus" -> BasicType.Int, "name" -> BasicType.Object))
    val arrCls = w.defineClass("[Ljava.lang.Object;", objCls)
    val appCls = (0 until spec.appClasses).map(i => w.defineClass(appClassName(i), objCls,
      instanceFields = Seq("a" -> BasicType.Long, "b" -> BasicType.Int, "ref" -> BasicType.Object)))
    val classIds = Seq("java.lang.Object" -> objCls, "java.lang.String" -> strCls,
      "java.lang.Integer" -> intCls, "java.util.HashMap" -> mapCls,
      "java.util.HashMap$Node" -> nodeCls, "java.util.ArrayList" -> listCls,
      "java.lang.Thread" -> threadCls) ++ appCls.indices.map(i => appClassName(i) -> appCls(i))
    val instances = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def inst(name: String, cid: Long, values: Seq[(Int, Any)]): Long = {
      instances(name) += 1
      w.instance(cid, values)
    }
    var objArrays = 0L; var byteArrays = 0L; var intArrays = 0L; var roots = 0L
    var badObjArrays = 0L
    def objArray(elems: Seq[Long]): Long = {
      objArrays += 1
      val n = elems.size
      val nulls = elems.count(_ == 0L)
      if (n == 0 || nulls == n || n == 1 || (n > 3 && nulls.toDouble / n > 0.7)) badObjArrays += 1
      w.objArray(arrCls, elems)
    }
    def root(kind: Int, id: Long, thread: Int = 0, frame: Int = -1): Unit = {
      roots += 1
      w.gcRoot(kind, id, thread, frame)
    }
    def hex(n: Int): String = Iterator.fill(n)(Integer.toHexString(rnd.nextInt(16))).mkString

    // strings: planted duplicate groups first, then unique contents
    val dupTotal = spec.dupGroups * spec.dupCopies
    val stringIds = new Array[Long](spec.strings)
    var s = 0
    while (s < spec.strings) {
      val text =
        if (s < dupTotal) s"dup-${s / spec.dupCopies}-" + (s / spec.dupCopies).toString * 3
        else s"s$s-${hex(6 + rnd.nextInt(24))}"
      byteArrays += 1
      stringIds(s) = inst("java.lang.String", strCls,
        Seq(BasicType.Object -> w.byteArray(text), BasicType.Int -> text.hashCode))
      s += 1
    }
    def someString(): Long = stringIds(rnd.nextInt(stringIds.length))
    val boxIds = (0 until spec.boxes).map(_ =>
      inst("java.lang.Integer", intCls, Seq(BasicType.Int -> rnd.nextInt(100000))))
    def someBox(): Long = boxIds(rnd.nextInt(boxIds.length))

    // HashMaps in four shapes: empty, single, sparse (2-4 entries in a
    // 64-slot table) and healthy (12 entries in 16 slots)
    var badColls = 0L; var sizing = 0L
    (0 until spec.maps).foreach { m =>
      val (size, cap) = m % 4 match {
        case 0 => (0, 0)
        case 1 => (1, 16)
        case 2 => (2 + rnd.nextInt(3), 64)
        case _ => (12, 16)
      }
      if (size <= 1) badColls += 1
      if (size >= 2 && cap >= 16 && size.toDouble / cap < 0.33) sizing += 1
      val table = if (cap == 0) 0L else {
        val slots = Array.fill(cap)(0L)
        rnd.shuffle((0 until cap).toList).take(size).foreach { i =>
          slots(i) = inst("java.util.HashMap$Node", nodeCls, Seq(BasicType.Int -> rnd.nextInt(),
            BasicType.Object -> someString(), BasicType.Object -> someBox(), BasicType.Object -> 0L))
        }
        objArray(slots.toSeq)
      }
      inst("java.util.HashMap", mapCls, Seq(BasicType.Int -> size, BasicType.Object -> table))
    }
    // ArrayLists: empty (shared zero-length array), single, oversized, healthy
    val emptyData = objArray(Nil)
    (0 until spec.lists).foreach { l =>
      val (size, cap) = l % 4 match {
        case 0 => (0, 0)
        case 1 => (1, 10)
        case 2 => (3, 40)
        case _ => (8, 10)
      }
      if (size <= 1) badColls += 1
      if (size >= 1 && cap > size * 2 && cap - size > 8) sizing += 1
      val data = if (cap == 0) emptyData
        else objArray(Seq.fill(size)(someString()) ++ Seq.fill(cap - size)(0L))
      inst("java.util.ArrayList", listCls, Seq(BasicType.Int -> size, BasicType.Object -> data))
    }
    // standalone Object[]: zero-length, all-null, single, sparse, dense
    (0 until spec.arrays).foreach { a =>
      objArray(a % 5 match {
        case 0 => Nil
        case 1 => Seq.fill(5)(0L)
        case 2 => Seq(someString())
        case 3 => someString() +: Seq.fill(9)(0L)
        case _ => Seq.fill(6)(someString())
      })
    }
    // int[]: zero-length, single, all-zero, healthy
    var badPrim = 0L
    (0 until spec.primArrays).foreach { p =>
      intArrays += 1
      val vals: Seq[Any] = p % 4 match {
        case 0 => Nil
        case 1 => Seq(1 + rnd.nextInt(9))
        case 2 => Seq.fill(8)(0)
        case _ => Seq.fill(8)(1 + rnd.nextInt(1000))
      }
      if (p % 4 != 3) badPrim += 1
      w.primArray(BasicType.Int, vals)
    }
    // application instances
    appCls.indices.foreach { i =>
      val n = appCount(spec, i) + (if (i == growClass) spec.growBy else 0)
      val scanned = if (scanClasses.contains(i))
        Some(truth.scanValues.getOrElseUpdate(appClassName(i), mutable.ArrayBuffer.empty)) else None
      (0 until n).foreach { k =>
        val b = rnd.nextInt(1000)
        scanned.foreach(_ += b)
        val id = inst(appClassName(i), appCls(i), Seq(BasicType.Long -> rnd.nextLong(),
          BasicType.Int -> b, BasicType.Object -> (if (k % 3 == 0) 0L else someString())))
        if (k == 0 || rnd.nextInt(200) == 0) truth.lookups += id -> appClassName(i)
      }
    }
    // threads with stack traces, and GC roots of several kinds
    val frameSites = (0 until 6).map(f => w.stackFrame(s"run$f", "()V", "Worker.java",
      "java.lang.Thread", 10 + f))
    (0 until spec.threads).foreach { t =>
      val serial = t + 1
      val status = if (t % 5 == 4) 0x0002 else 0x0005
      val tid = inst("java.lang.Thread", threadCls,
        Seq(BasicType.Int -> status, BasicType.Object -> someString()))
      w.stackTrace(serial, serial, frameSites.take(1 + t % frameSites.size))
      root(Sub.RootThreadObject, tid, serial)
      root(Sub.RootJavaFrame, someString(), serial, 0)
    }
    (0 until spec.threads * 4).foreach(_ => root(Sub.RootJniGlobal, someBox()))
    classIds.take(4).foreach { case (_, cid) => root(Sub.RootStickyClass, cid) }

    w.writeTo(path, segments = math.max(4, spec.strings / 20000))
    pinTimestamp(path)

    classIds.foreach { case (name, cid) =>
      truth.classRows(name) = instances(name)
      if (instances(name) > 0) truth.classTableRows(s"${name}_$cid") = instances(name)
    }
    truth.systemRows ++= Seq("_object_arrays" -> objArrays,
      "_primitive_arrays_byte" -> byteArrays, "_primitive_arrays_int" -> intArrays,
      "_gc_roots" -> roots,
      // class objects are indexed too
      "_object_index" -> (instances.values.sum + objArrays + byteArrays + intArrays +
        classIds.size + 1))
    truth.waste ++= Seq(
      "Duplicate Strings" -> dupTotal.toLong,
      "Boxed Primitives" -> spec.boxes.toLong,
      "Bad Collections (empty/single-element)" -> badColls,
      "Bad Object Arrays" -> badObjArrays,
      "Bad Primitive Arrays" -> badPrim,
      "Collection Sizing Issues" -> sizing)
    truth.bytes = new java.io.File(path).length()
    truth
  }

  /** The writer stamps wall-clock time into the header; pin it so the
    * same seed yields the same bytes.
    */
  private def pinTimestamp(path: String): Unit = {
    val f = new java.io.RandomAccessFile(path, "rw")
    try { f.seek("JAVA PROFILE 1.0.2".length + 1 + 4); f.writeLong(0L) } finally f.close()
  }
}
