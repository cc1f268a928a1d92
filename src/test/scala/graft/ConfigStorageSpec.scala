package graft

import java.nio.file.{Files, Paths}
import graft.config.PipelineConfig
import graft.runtime.{ConfigStorage, FileBackedConfigStorage, InMemoryConfigStorage}
import graft.testkit.TestPipeline

/** CRUD contract for the pluggable config storage, against BOTH shipped
  * backends — the analog of test/broadway/config_storage_test.exs:1-27
  * (setup → empty list → put → list/get → delete → empty).
  */
class ConfigStorageSpec extends SparkSpec {

  import spark.implicits._

  private def crud(storage: ConfigStorage, name: String): Unit = {
    val tp = new TestPipeline(spark, PipelineConfig[Int](name = name))
    try {
      storage.setup()
      assert(!storage.list().contains(name), s"pre-put list already has $name")
      storage.put(name, tp.running)
      assert(storage.list().contains(name), "list after put")
      assert(storage.get(name).exists(_.name == name), "get returns the stored handle")
      assert(storage.delete(name), "delete reports existence")
      assert(!storage.list().contains(name), "list after delete")
      assert(storage.get(name).isEmpty, "get after delete")
      assert(!storage.delete(name), "second delete reports absence")
    } finally tp.stop()
  }

  test("in-memory backend CRUD") {
    crud(new InMemoryConfigStorage, "cfg-mem")
  }

  test("file-backed backend CRUD + on-disk descriptor") {
    val dir = tempDir("graft-cfg")
    val storage = new FileBackedConfigStorage(dir)
    crud(storage, "cfg-file")
    // the descriptor round-trip: put writes <name>.json readable by a
    // DIFFERENT storage instance (the cross-process introspection role)
    val tp = new TestPipeline(spark, PipelineConfig[Int](name = "cfg-file2"))
    try {
      storage.put("cfg-file2", tp.running)
      val other = new FileBackedConfigStorage(dir)
      assert(other.list() == Seq("cfg-file2"), "a second instance sees the registration on disk")
      val desc = new String(Files.readAllBytes(dir.resolve("cfg-file2.json")), "UTF-8")
      assert(desc.contains("\"name\":\"cfg-file2\"") && desc.contains("\"producers\":[\"memory\"]"), desc)
      // but handles are process-local: the other instance has no handle
      assert(other.get("cfg-file2").isEmpty)
      assert(storage.delete("cfg-file2") && other.list().isEmpty)
    } finally tp.stop()
  }

  test("unsafe pipeline names are rejected by the file backend") {
    val dir = tempDir("graft-cfg-unsafe")
    val storage = new FileBackedConfigStorage(dir)
    val tp = new TestPipeline(spark, PipelineConfig[Int](name = "ok-name"))
    try {
      intercept[IllegalArgumentException] {
        storage.put("../escape", tp.running)
      }
      ()
    } finally tp.stop()
  }

  test("PipelineRegistry delegates to the configured backend") {
    val dir = tempDir("graft-cfg-reg")
    val fileStorage = new FileBackedConfigStorage(dir)
    graft.runtime.PipelineRegistry.configureStorage(fileStorage)
    try {
      val tp = new TestPipeline(spark, PipelineConfig[Int](name = "cfg-reg"))
      try {
        // Pipeline.start registered through the registry → lands on disk
        assert(Files.exists(dir.resolve("cfg-reg.json")), "registration not mirrored to disk")
        assert(graft.runtime.PipelineRegistry.allRunning.contains("cfg-reg"))
      } finally tp.stop()
      assert(!Files.exists(dir.resolve("cfg-reg.json")), "stop did not clean the descriptor")
    } finally graft.runtime.PipelineRegistry.configureStorage(new InMemoryConfigStorage)
  }
}
