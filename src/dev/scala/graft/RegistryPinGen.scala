package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Rewrites the registry pin that [[RegistryPinSpec]] checks:
  * `sbt "Test/runMain graft.RegistryPinGen"`. Regenerate it only when a
  * change means to add, rename or re-word a query or its oracle.
  */
object RegistryPinGen {
  def main(args: Array[String]): Unit =
    Files.write(Paths.get(args.headOption.getOrElse(RegistryPin.path)),
      RegistryPin.render().getBytes(UTF_8))
}
