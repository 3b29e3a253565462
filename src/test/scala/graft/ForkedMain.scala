package graft

/** Starts a test main in a fresh JVM on the suite's own classpath — for
  * the specs that need a process of their own: a genuine cross-process
  * race, or a SparkContext with other creation-time confs than the
  * shared FIFO test session. Output and errors share one stream. */
object ForkedMain {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def start(mainClass: String, args: String*): Process =
    new ProcessBuilder(
      (Seq(s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++
        Seq("-Xmx1500m", "-XX:+UseSerialGC", "-Dspark.ui.enabled=false",
          "-cp", System.getProperty("java.class.path"), mainClass) ++ args): _*)
      .redirectErrorStream(true).start()
}
