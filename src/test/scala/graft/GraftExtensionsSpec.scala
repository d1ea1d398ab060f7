package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects all native functions into a fresh session") {
    // Build a DEDICATED session so the extension path (not a registerAll
    // call) provides the functions. getOrCreate() returns the suite's
    // shared session if one is active — clear the bindings first, and
    // restore them after instead of stop(): the new session shares the
    // JVM's SparkContext, and stopping it would kill the whole suite's
    // context. The builder goes through withExtensions because
    // `spark.sql.extensions` is a STATIC conf read from the
    // SparkContext's conf at session construction — with the suite's
    // pre-existing context the config route cannot take effect in-JVM;
    // a real deployment sets the config before the context exists and
    // runs the exact same injection code.
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.builder(SparkSpec.cpus)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val r = s.sql(
        """SELECT round(cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS cs,
          |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
          |       poly_hash('ab') AS ph""".stripMargin).head()
      assert(r.getDouble(0) == 1.0)
      assert(r.getDouble(1) == 11.0)
      // 'a'=97, 'b'=98: (0*31+97)*31+98 = 3105
      assert(r.getLong(2) == 3105L)
      // a single-shingle fingerprint IS its hash (every bit's lone vote
      // wins), so both simhash_word words pin against the conv formula
      val sw = s.sql(
        """SELECT simhash_word(array('x'), 0) =
          |         CAST(conv(substring(md5('x'), 1, 15), 16, 10) AS BIGINT) AS eq0,
          |       simhash_word(array('x'), 1) =
          |         CAST(conv(substring(md5('x'), 16, 15), 16, 10) AS BIGINT) AS eq1""".stripMargin).head()
      assert(sw.getBoolean(0) && sw.getBoolean(1))
      // a single-shingle signature lane i IS xxhash64(i, xxhash64(s)) —
      // no minimum to take — so the native kernel pins against Spark's
      // own hash chain
      val mh = s.sql(
        """SELECT minhash_sig(array('x'), 3) =
          |         array(xxhash64(0, xxhash64('x')),
          |               xxhash64(1, xxhash64('x')),
          |               xxhash64(2, xxhash64('x'))) AS eq""".stripMargin).head()
      assert(mh.getBoolean(0))
      // the native aggregate resolves and aggregates through the same route
      val mg = s.sql(
        """SELECT misra_gries(t, 4) AS m
          |FROM VALUES ('a'), ('a'), ('b') AS v(t)""".stripMargin)
        .head().getMap[String, Long](0).toMap
      assert(mg == Map("a" -> 2L, "b" -> 1L))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("optimizer rule rewrites HOF dot/norm shapes to the native kernel, leaves others alone") {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.builder(SparkSpec.cpus)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      // non-literal input (range) so constant folding cannot pre-collapse
      // the HOF before the rewrite is observable; row id=0 gives vectors
      // a=(1,2), b=(3,4)
      s.range(1).createOrReplaceTempView("graft_nvr_rows")
      val base = """FROM (SELECT array(CAST(id + 1 AS DOUBLE), CAST(id + 2 AS DOUBLE)) AS a,
                   |             array(CAST(id + 3 AS DOUBLE), CAST(id + 4 AS DOUBLE)) AS b
                   |      FROM graft_nvr_rows)""".stripMargin
      // the HOF dot product and squared norm must plan as DotProduct
      val hof = s.sql(
        s"""SELECT aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (p, q) -> p + q) AS dp,
           |       aggregate(transform(a, x -> x * x), 0D, (p, q) -> p + q) AS n2
           |$base""".stripMargin)
      val opt = hof.queryExecution.optimizedPlan.toString
      assert(opt.contains("dot_product") || opt.contains("DotProduct"), opt)
      assert(!opt.contains("aggregate(") && !opt.contains("zip_with"), opt)
      val r = hof.head()
      assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 5.0, r.toString)
      // commuted operands and float-element casts still match
      val cast = s.sql(
        s"""SELECT aggregate(zip_with(a, b, (x, y) -> CAST(y AS DOUBLE) * x),
           |                 0D, (p, q) -> q + p) AS dp
           |$base""".stripMargin)
      assert(cast.queryExecution.optimizedPlan.toString.contains("dot_product"),
        cast.queryExecution.optimizedPlan.toString)
      assert(cast.head().getDouble(0) == 11.0)
      // a near-miss shape (sum lambda, not product) must be LEFT ALONE
      val miss = s.sql(
        s"""SELECT aggregate(zip_with(a, b, (x, y) -> x + y), 0D, (p, q) -> p + q) AS sm
           |$base""".stripMargin)
      val missPlan = miss.queryExecution.optimizedPlan.toString
      assert(!missPlan.contains("dot_product"), missPlan)
      assert(miss.head().getDouble(0) == 10.0)
      // a non-zero seed must be left alone too (the fold result differs)
      val seeded = s.sql(
        s"""SELECT aggregate(zip_with(a, b, (x, y) -> x * y), 1D, (p, q) -> p + q) AS dp
           |$base""".stripMargin)
      assert(!seeded.queryExecution.optimizedPlan.toString.contains("dot_product"))
      assert(seeded.head().getDouble(0) == 12.0)
      // FLOAT arrays with an uncast multiply compute each product in
      // float (rounded before the double sum) while DotProduct multiplies
      // exact doubles — the rule must leave that shape alone...
      val fbase = """FROM (SELECT array(CAST(id + 1 AS FLOAT), CAST(id + 2 AS FLOAT)) AS a,
                    |             array(CAST(id + 3 AS FLOAT), CAST(id + 4 AS FLOAT)) AS b
                    |      FROM graft_nvr_rows)""".stripMargin
      val fraw = s.sql(
        s"""SELECT aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (p, q) -> p + q) AS dp
           |$fbase""".stripMargin)
      val frawPlan = fraw.queryExecution.optimizedPlan.toString
      assert(!frawPlan.contains("dot_product"), frawPlan)
      assert(fraw.head().getDouble(0) == 11.0)
      // ...but float arrays whose lambda casts both elements to double
      // compute the exact double product DotProduct computes — rewritten.
      val fcast = s.sql(
        s"""SELECT aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
           |                 0D, (p, q) -> p + q) AS dp
           |$fbase""".stripMargin)
      val fcastPlan = fcast.queryExecution.optimizedPlan.toString
      assert(fcastPlan.contains("dot_product") || fcastPlan.contains("DotProduct"), fcastPlan)
      assert(fcast.head().getDouble(0) == 11.0)
      // the squared-L2 spelling rewrites to the native SquaredL2 kernel —
      // both orientations ((x−y)² and (y−x)² are bit-equal squares)…
      val l2 = s.sql(
        s"""SELECT aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (p, q) -> p + q) AS d2,
           |       aggregate(zip_with(a, b, (x, y) -> (y - x) * (y - x)), 0D, (p, q) -> p + q) AS d2r
           |$base""".stripMargin)
      val l2Plan = l2.queryExecution.optimizedPlan.toString
      assert(l2Plan.contains("squared_l2"), l2Plan)
      assert(!l2Plan.contains("zip_with"), l2Plan)
      val l2row = l2.head()
      assert(l2row.getDouble(0) == 8.0 && l2row.getDouble(1) == 8.0, l2row.toString)
      // …but MIXED orientation is −(x−y)², a different value — left alone
      val l2mixed = s.sql(
        s"""SELECT aggregate(zip_with(a, b, (x, y) -> (x - y) * (y - x)), 0D, (p, q) -> p + q) AS d2
           |$base""".stripMargin)
      assert(!l2mixed.queryExecution.optimizedPlan.toString.contains("squared_l2"))
      assert(l2mixed.head().getDouble(0) == -8.0)
      // the self-dot rewrite duplicates its child, so a NON-DETERMINISTIC
      // child (shuffle) must be left alone even though the sum of squares
      // happens to be order-invariant
      val nondet = s.sql(
        s"""SELECT aggregate(transform(shuffle(a), x -> x * x), 0D, (p, q) -> p + q) AS n2
           |$base""".stripMargin)
      val nondetPlan = nondet.queryExecution.optimizedPlan.toString
      assert(!nondetPlan.contains("dot_product"), nondetPlan)
      assert(nondet.head().getDouble(0) == 5.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("one-config-line deploy: a fresh JVM with spark.sql.extensions resolves the functions") {
    // The static-conf route CANNOT be proven in this JVM (the suite's
    // SparkContext already exists, so the conf is never read) — launch a
    // child JVM whose only graft wiring is the config line, exactly like
    // `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster.
    // The child inherits this JVM's classpath and --add-opens flags.
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a == "--add-opens" || a.endsWith("=ALL-UNNAMED")).toSeq
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp",
      System.getProperty("java.class.path"), "graft.ExtensionsSmoke")
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val rc = p.waitFor()
    assert(rc == 0 && out.contains("EXTENSIONS_SMOKE OK"),
      s"rc=$rc tail=${out.takeRight(1500)}")
  }
}
