package graft.tools

import graft.serve.DashboardServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Served-latency artifact at the BENCH scale factor — cold and warm,
  * apples-to-apples with BASELINE's <100 ms dashboard bar.
  *
  * Cold = per-route recompute time through the HTTP stack with the TTL
  * cache DISABLED (ttl=0 server), best-of-3 after one untimed warmup
  * pass that pays the one-off stage builds (gold layer) and JIT — the
  * "cache just expired" number a user sees on refresh. Warm =
  * best-of-3 inside the TTL on a default server (single-flight on) —
  * the steady-state number between refreshes.
  *
  * Usage: `sbt "runMain graft.tools.ServeLatency [sfDir] [out.json]"`
  * (ServeSpec asserts the route contract at sf0.001 but no longer
  * writes this artifact — a CI run must not quietly swap the committed
  * measurement back to a toy SF, which is exactly what happened to the
  * r11 artifact.)
  */
object ServeLatency {

  private def get(port: Int, path: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())

  private def bestOf3Ms(port: Int, q: String): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val r = get(port, s"/api/$q")
      require(r.statusCode() == 200, s"$q -> ${r.statusCode()}")
      (System.nanoTime() - t0) / 1e6
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "SERVE_LATENCY.json"
    val spark = ToolSession.local("serve-latency")

    val routes = DashboardServer.DashboardQueries

    // cold: ttl=0 → every request recomputes through the full stack
    val cold = {
      val srv = new DashboardServer(spark, sfDir, ttlMillis = 0L)
      val port = srv.start()
      try {
        routes.foreach(q => get(port, s"/api/$q")) // stages + JIT, untimed
        routes.map(q => q -> bestOf3Ms(port, q))
      } finally srv.stop()
    }
    // warm: default TTL, one fill pass, then cached best-of-3
    val warm = {
      val srv = new DashboardServer(spark, sfDir)
      val port = srv.start()
      try {
        routes.foreach(q => get(port, s"/api/$q"))
        routes.map(q => q -> bestOf3Ms(port, q))
      } finally srv.stop()
    }
    // post-publish: a publisher that swaps tables under the dashboard
    // calls srv.warm() (forced refresh through the single-flight
    // machinery, OFF the request path) — the FIRST user hit after the
    // publish must then be a cache hit, i.e. meet the reference's
    // <100 ms bar cold-start-free. warm_refresh_secs is the off-path
    // cost the publisher pays per warm() call.
    val (postPublish, warmRefreshSecs) = {
      val srv = new DashboardServer(spark, sfDir)
      val port = srv.start()
      try {
        routes.foreach(q => get(port, s"/api/$q")) // stages + JIT
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          srv.warm() // the post-publish hook
          val wSecs = (System.nanoTime() - t0) / 1e9
          val firsts = routes.map { q =>
            val t1 = System.nanoTime()
            val r = get(port, s"/api/$q")
            require(r.statusCode() == 200, s"$q -> ${r.statusCode()}")
            q -> (System.nanoTime() - t1) / 1e6
          }
          (firsts, wSecs)
        }
        (routes.map(q => q ->
          runs.map(_._1.toMap.apply(q)).min), runs.map(_._2).min)
      } finally srv.stop()
    }
    def json(xs: Seq[(String, Double)]) =
      xs.map { case (q, ms) => f""""$q":$ms%.3f""" }.mkString("{", ",", "}")
    val body = s"""{"unit":"ms","cold_recompute_best_of_3":${json(cold)},""" +
      s""""warm_cache_best_of_3":${json(warm)},""" +
      s""""first_hit_after_publish_best_of_3":${json(postPublish)},""" +
      f""""warm_refresh_secs":$warmRefreshSecs%.3f,"single_flight":true,""" +
      s""""sf":"$sfDir","cpus":"${ToolSession.cpus}"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), body)
    println(s"SERVE_LATENCY -> $out")
    println(body)
    spark.stop()
  }
}
