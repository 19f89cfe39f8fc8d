package graft.operators

import java.io.File
import java.nio.file.Files
import scala.sys.process._

/** Executor-side execution of a user command over bind-mounted host paths.
  *
  * The reference runs commands inside Docker containers via docker-java
  * (`/root/reference/src/main/scala/se/uu/it/mare/DockerHelper.scala:66-144`,
  * entrypoint `sh -c <command>`). Because the entrypoint is always `sh -c`,
  * a plain subprocess with the same mounts is semantically identical when the
  * image's tools exist on the host — so [[SubprocessRunner]] is the default
  * (and the only one testable in this sandbox), with [[DockerRunner]] the
  * drop-in for real clusters with a Docker daemon per node.
  *
  * One portability caveat: commands that REPLACE an output mount point
  * (`rm -r out && mv scratch out`) work under SubprocessRunner (the sandbox
  * reconciles the replacement dir back), but under Docker `rm -r` on a bind
  * mount point fails with EBUSY — portable commands should write INTO the
  * output mount (`cp -r scratch/. out`), not replace it.
  *
  * Contract (same as the reference): blocks until exit; non-zero exit status
  * throws, which surfaces as a Spark task failure → standard task retry.
  */
trait CommandRunner extends Serializable {
  /** Run `sh -c command` with each (hostPath → containerPath) bind visible to
    * the command at containerPath. Throws RuntimeException on non-zero exit. */
  def run(command: String, binds: Seq[(File, String)]): Unit
}

/** Runs the command as a host subprocess in a per-invocation sandbox dir.
  * Each bind is symlinked into the sandbox at its container path (leading '/'
  * stripped) and the command runs with cwd = sandbox, so `TextFile("/in.txt")`
  * is addressable as `in.txt` (or `./in.txt`). Also exported as env vars
  * GRAFT_BIND_0..n for commands that prefer explicit paths. */
object SubprocessRunner extends CommandRunner {

  override def run(command: String, binds: Seq[(File, String)]): Unit = {
    val sandbox = Files.createTempDirectory(Pipeline.scratchRoot, "graft_sandbox_")
    try {
      val env = binds.zipWithIndex.map { case ((host, _), i) =>
        s"GRAFT_BIND_$i" -> host.getAbsolutePath
      }
      binds.foreach { case (host, containerPath) =>
        val rel = containerPath.dropWhile(_ == '/')
        require(rel.nonEmpty, s"invalid container path: $containerPath")
        val link = sandbox.resolve(rel)
        Option(link.getParent).foreach(p => Files.createDirectories(p))
        Files.createSymbolicLink(link, host.toPath.toAbsolutePath); ()
      }
      val logger = ProcessLogger(
        o => System.err.println(s"[graft cmd] $o"),
        e => System.err.println(s"[graft cmd] $e"))
      val t0 = System.nanoTime()
      val exit = Process(Seq("sh", "-c", command), sandbox.toFile, env: _*) ! logger
      val ms = (System.nanoTime() - t0) / 1000000
      System.err.println(s"[graft] command took $ms ms (exit $exit)")
      if (exit != 0)
        throw new RuntimeException(s"command failed with exit status $exit: $command")
      // A command may REPLACE an output symlink instead of writing through it
      // (mv/rename, sed -i): the result then lives in the sandbox while the
      // host path stays empty. Reconcile by moving such outputs back — this
      // restores Docker bind-mount semantics, where a rename inside the
      // container lands in the mounted volume.
      binds.foreach { case (host, containerPath) =>
        val link = sandbox.resolve(containerPath.dropWhile(_ == '/'))
        if (Files.exists(link) && !Files.isSymbolicLink(link)) {
          if (Files.isDirectory(link)) {
            // command replaced a dir symlink with a real directory (e.g.
            // `rm -r out && mv scratch out`): the replacement dir's contents
            // ARE the output now — clear the host dir first (files written
            // through the symlink before the rm would otherwise survive the
            // delete and pollute the delivered partition), then move the new
            // entries in
            Pipeline.deleteRecursive(host)
            Files.createDirectories(host.toPath)
            val entries = Files.list(link)
            try entries.forEach { e =>
              Files.move(e, host.toPath.resolve(e.getFileName.toString)); ()
            } finally entries.close()
          } else {
            Files.deleteIfExists(host.toPath)
            Files.move(link, host.toPath); ()
          }
        }
      }
    } finally {
      // best-effort sandbox cleanup: the walk does not follow the bind
      // symlinks, so bind targets survive
      Pipeline.deleteRecursive(sandbox.toFile)
    }
  }
}

/** Docker-CLI runner for clusters with a daemon per worker: mirrors the
  * reference's pull-if-absent + volume-bind + `sh -c` entrypoint semantics
  * (DockerHelper.scala:80-108). The daemon connection is configured the same
  * way as the reference (DockerHelper.scala:23-34): the docker CLI honors
  * `DOCKER_HOST`, `DOCKER_TLS_VERIFY` and `DOCKER_CERT_PATH`, which the
  * spawned process inherits from the executor JVM's environment untouched —
  * set them on the Spark executors to target a remote/TLS daemon.
  *
  * All daemon interaction funnels through `exec` (argv, quiet) → exit code,
  * so the pull decision, argv assembly and failure handling are unit-testable
  * without a daemon (CommandRunnerSpec); the default [[DockerRunner.cliExec]]
  * invokes the real CLI. */
case class DockerRunner(imageName: String, forcePull: Boolean = false,
    exec: DockerRunner.Exec = DockerRunner.cliExec) extends CommandRunner {

  /** Image name with the reference's default-`:latest` normalization
    * (DockerHelper.scala:51-64). */
  def imageWithTag: String =
    if (imageName.contains(":")) imageName else s"$imageName:latest"

  /** Daemon-side image-present probe. */
  def inspectArgv: Seq[String] = Seq("docker", "image", "inspect", imageWithTag)

  def pullArgv: Seq[String] = Seq("docker", "pull", imageWithTag)

  /** `-v host:container` pairs, in bind order. */
  def volumeArgs(binds: Seq[(File, String)]): Seq[String] =
    binds.flatMap { case (host, cp) => Seq("-v", s"${host.getAbsolutePath}:$cp") }

  def runArgv(command: String, binds: Seq[(File, String)]): Seq[String] =
    Seq("docker", "run", "--rm", "--entrypoint", "sh") ++
      volumeArgs(binds) ++ Seq(imageWithTag, "-c", command)

  /** Pull-if-absent, always under forcePull (DockerHelper.scala:80-87). */
  def shouldPull(imagePresent: Boolean): Boolean = forcePull || !imagePresent

  override def run(command: String, binds: Seq[(File, String)]): Unit = {
    val present = exec(inspectArgv, true) == 0
    if (shouldPull(present)) {
      if (exec(pullArgv, false) != 0)
        throw new RuntimeException(s"docker pull failed for $imageWithTag")
    }
    val exit = exec(runArgv(command, binds), false)
    if (exit != 0)
      throw new RuntimeException(s"container failed with exit status $exit: $command")
  }
}

object DockerRunner {
  /** (argv, quiet) → exit status. */
  type Exec = (Seq[String], Boolean) => Int

  val cliExec: Exec = (argv, quiet) => {
    val logger =
      if (quiet) ProcessLogger(_ => ())
      else ProcessLogger(
        o => System.err.println(s"[graft docker] $o"),
        e => System.err.println(s"[graft docker] $e"))
    Process(argv) ! logger
  }
}
