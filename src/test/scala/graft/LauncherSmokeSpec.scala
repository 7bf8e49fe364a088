package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.{AviMjpegFrameDecoder, Mp4FrameDecoder}

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end smoke of the spark-submit launcher (bin/run-pipeline.sh
  * local) against a REAL mixed mp4 corpus — the r15 review found the
  * launcher had never been driven (it passed its input positionally,
  * binding it to the fixture dir), so the submitted-JVM path now has a
  * standing proof: driver-side binaryFile glob → content-magic routing
  * (progressive MJPEG mp4, FRAGMENTED mp4, mp4 bytes under a lying
  * .avi extension, a .txt the extension filter must drop) → real
  * decode → TFRecord sink, all in a separate spark-submit JVM.
  *
  * Needs the Spark distribution launcher. The application jar the
  * launcher submits is written here, before the launch, from the
  * compiled classes under test (`target/scala-2.13/classes`, which
  * `Test/compile` fills, `META-INF/services` included), so the smoke
  * never runs a stale or missing `sbt package` build.
  */
class LauncherSmokeSpec extends AnyFunSuite {

  private val submit = Paths.get(
    sys.env.getOrElse("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")
  private val classes = Paths.get("target/scala-2.13/classes")
  private val jar = Paths.get(
    "target/scala-2.13/videostotfrecordsspark_2.13-0.1.0.jar")

  /** Jar every file under [[classes]] into [[jar]], replacing it whole. */
  private def packageClasses(): Unit = {
    val tmp = Files.createTempFile(jar.getParent, "launcher", ".jar")
    val manifest = new java.util.jar.Manifest()
    manifest.getMainAttributes.put(
      java.util.jar.Attributes.Name.MANIFEST_VERSION, "1.0")
    val out = new java.util.jar.JarOutputStream(
      Files.newOutputStream(tmp), manifest)
    val files = Files.walk(classes)
    try files.filter(Files.isRegularFile(_)).sorted().forEach { f =>
      val name = classes.relativize(f).toString
      if (name != "META-INF/MANIFEST.MF") {
        out.putNextEntry(new java.util.jar.JarEntry(name))
        Files.copy(f, out)
        out.closeEntry()
      }
    } finally { files.close(); out.close() }
    Files.move(tmp, jar, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  test("run-pipeline.sh local: glob → magic-routed real decode → " +
      "TFRecord sink, in a spark-submit JVM") {
    assume(Files.isExecutable(submit), s"no $submit in this environment")
    packageClasses()

    val corpus = Files.createTempDirectory("launcher_corpus")
    Files.createDirectories(corpus.resolve("catA/clips"))
    Files.createDirectories(corpus.resolve("catB/clips"))
    def jpeg(v: Float) = AviMjpegFrameDecoder.encodeJpeg(
      Array.fill(4 * 4 * 3)(v), 4, 4)
    Files.write(corpus.resolve("catA/clips/v1.mp4"),
      Mp4FrameDecoder.write(4, 4, 2, 1, Seq(jpeg(0.2f), jpeg(0.8f))))
    Files.write(corpus.resolve("catA/clips/v2.mp4"),
      Mp4FrameDecoder.writeFragmented(4, 4, 2, 1,
        Seq(jpeg(0.5f), jpeg(0.6f), jpeg(0.7f)), framesPerFragment = 2))
    // real mp4 bytes under a lying .avi extension: magic must route it
    Files.write(corpus.resolve("catB/clips/v3.avi"),
      Mp4FrameDecoder.write(4, 4, 2, 1, Seq(jpeg(0.9f))))
    // r16: Matroska — the reference filter's FIRST extension — decodes
    // end-to-end through the same launcher (EBML magic → MkvFrameDecoder)
    Files.write(corpus.resolve("catB/clips/v4.mkv"),
      graft.pipeline.MkvFrameDecoder.write(4, 4, 2, 1,
        Seq(jpeg(0.3f), jpeg(0.4f))))
    // r17: the LIVE-CAPTURE Matroska layout — every Cluster unknown-size,
    // bounded only by its next sibling (RFC 8794 §6.3)
    Files.write(corpus.resolve("catA/clips/v5.mkv"),
      graft.pipeline.MkvFrameDecoder.write(4, 4, 2, 1,
        Seq(jpeg(0.1f), jpeg(0.2f), jpeg(0.3f)), framesPerCluster = 1,
        unknownSizeClusters = true))
    Files.write(corpus.resolve("catB/clips/readme.txt"),
      "not a video".getBytes)

    val out = Files.createTempDirectory("launcher_out").toString
    val pb = new ProcessBuilder("bash", "bin/run-pipeline.sh", "local",
      s"$corpus/*/clips/*", out, "single_frame")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val log = new String(p.getInputStream.readAllBytes())
    val code = p.waitFor()
    assert(code === 0, s"launcher exited $code:\n${log.takeRight(4000)}")
    // 2 (v1) + 3 (fragmented v2) + 1 (magic-routed v3) + 2 (mkv v4) +
    // 3 (live-capture mkv v5) frames, one single_frame sample each;
    // readme.txt filtered by extension
    assert(log.contains("wrote 11 samples"),
      s"expected 11 samples in:\n${log.takeRight(2000)}")
  }
}
