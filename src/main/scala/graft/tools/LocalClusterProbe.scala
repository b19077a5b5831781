package graft.tools

import java.io.{BufferedInputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.jar.{JarEntry, JarOutputStream}

/** The application-classes jar for real multi-executor runs WITHOUT a
  * packaged jar: `Bench` passes it to the `ScaleProbe` children it
  * spark-submits on `local-cluster[E,C,MB]`, whose separate executor JVMs
  * cannot see sbt's target/classes on their own.
  */
object LocalClusterProbe {

  /** Zip a classes directory into a jar (idempotent per JVM run). */
  def classesJar(): String = {
    val out = Paths.get(sys.props("java.io.tmpdir"), "graft-classes.jar")
    val classesDir = Seq("target/scala-2.13/classes",
      "/root/repo/target/scala-2.13/classes")
      .map(Paths.get(_)).find(Files.isDirectory(_))
      .getOrElse(sys.error("no compiled classes directory found"))
    val jos = new JarOutputStream(new FileOutputStream(out.toFile))
    try {
      val base = classesDir.toAbsolutePath
      Files.walk(base).forEach { p: Path =>
        if (Files.isRegularFile(p)) {
          val name = base.relativize(p).toString.replace('\\', '/')
          val e = new JarEntry(name)
          e.setTime(0L) // deterministic jar bytes
          jos.putNextEntry(e)
          val in = new BufferedInputStream(new FileInputStream(p.toFile))
          try {
            val buf = new Array[Byte](65536)
            var n = in.read(buf)
            while (n >= 0) { jos.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
          jos.closeEntry()
        }
      }
    } finally jos.close()
    out.toAbsolutePath.toString
  }
}
