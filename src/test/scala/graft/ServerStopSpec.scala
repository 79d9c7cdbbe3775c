package graft

import java.util.concurrent.{ExecutorService, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{IcebergRestCatalogServer, InMemoryObjectStoreServer}

/** The in-process HTTP servers hand `HttpServer` a fixed thread pool of
  * non-daemon threads; `stop()` must shut that pool down, or a main that
  * started a server never exits.
  */
class ServerStopSpec extends AnyFunSuite {

  /** Serves one request (so the pool has started a thread), stops the
    * server, and checks the pool terminates.
    */
  private def stopsPool(port: Int, executor: ExecutorService)(stop: => Unit): Unit = {
    val c = java.net.URI.create(s"http://127.0.0.1:$port/probe").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try c.getResponseCode finally c.disconnect()
    stop
    assert(executor.awaitTermination(10, TimeUnit.SECONDS),
      "the request pool must terminate once the server is stopped")
  }

  test("object store server: stop() shuts down its request pool") {
    val s = new InMemoryObjectStoreServer()
    stopsPool(s.port, s.executor)(s.stop())
  }

  test("Iceberg REST catalog server: stop() shuts down its request pool") {
    val s = new IcebergRestCatalogServer()
    stopsPool(s.port, s.executor)(s.stop())
  }
}
