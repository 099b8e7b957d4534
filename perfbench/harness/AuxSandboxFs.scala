package perfbench

import java.io.File

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/** Local filesystem that maps the program's fixed oracle-aux root
  * (`graft.queries.OracleAux.root`, a path under /tmp) into the
  * benchmark's run directory, so prepare hooks write inside the
  * checkout. Installed with `-Dspark.hadoop.fs.file.impl`; every other
  * path passes through unchanged.
  */
class AuxSandboxFs extends LocalFileSystem(new AuxSandboxRawFs)

class AuxSandboxRawFs extends RawLocalFileSystem {
  private val from = graft.queries.OracleAux.root
  private val to = System.getProperty("perfbench.aux_root")

  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    val p = f.getPath
    if (to != null && (p == from || p.startsWith(from + "/")))
      new File(to + p.substring(from.length))
    else f
  }
}
