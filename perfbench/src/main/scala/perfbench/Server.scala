package perfbench

import com.sun.net.httpserver.{HttpsConfigurator, HttpsServer}
import java.net.{InetAddress, InetSocketAddress}
import java.security.KeyStore
import java.util.concurrent.{Executors, TimeUnit}
import javax.net.ssl.{KeyManagerFactory, SSLContext}

/** Loopback HTTPS server answering each generated route with its
  * status and body. The certificate is the self-signed one in
  * `keystore`; the client side trusts it through the JVM's trust store
  * property, set before the engine's HTTP client is first built.
  */
final class Server(keystore: String, password: String, routes: Map[String, (Int, Array[Byte])], threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(keystore)
    try ks.load(in, password.toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, password.toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    val s = HttpsServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    s.setHttpsConfigurator(new HttpsConfigurator(ctx))
    s.createContext("/", ex => {
      try {
        routes.get(ex.getRequestURI.getPath) match {
          case Some((200, body)) =>
            ex.sendResponseHeaders(200, body.length.toLong)
            ex.getResponseBody.write(body)
          case Some((status, _)) => ex.sendResponseHeaders(status, -1)
          case None              => ex.sendResponseHeaders(404, -1)
        }
      } finally ex.close()
    })
    s.setExecutor(pool)
    s.start()
    s
  }

  val port: Int = server.getAddress.getPort

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
