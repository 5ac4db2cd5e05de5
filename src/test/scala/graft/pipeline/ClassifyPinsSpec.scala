package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The paths where a commit's classification finds nothing to write,
  * on both store backends: the counts observed by the classify pins
  * must end the operation without a write, and a streaming upsert,
  * whose merges observe their pins inside `foreachBatch`, must run to
  * its end.
  */
class ClassifyPinsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(rs: (Long, String, String, String, String)*): DataFrame =
    Ingest.enrich(rs.toDF("id", "first_name", "last_name", "email", "phone"))

  /** Each backend with the same two stored rows, and a probe of its
    * committed state: the parquet store's version and staging dirs, or
    * the JDBC table's rows.
    */
  private def eachBackend(name: String)(body: (String, CustomerStoreApi, () => Any) => Unit): Unit = {
    val p = tmpDir(s"$name-pq") + "/store"
    val pq = new CustomerStore(spark, p)
    val jdbc = new JdbcCustomerStore(spark, s"jdbc:derby:${tmpDir(s"$name-db")}/cust;create=true")
    Seq[(String, CustomerStoreApi, () => Any)](
      ("parquet", pq, () => (pq.currentVersion(),
        new File(p).listFiles().map(_.getName).filter(_.startsWith(CustomerStore.Staging)).toSeq)),
      ("jdbc", jdbc, () => jdbc.all().collect().toSet)
    ).foreach { case (backend, store, state) =>
      store.insertNew(rows(
        (1L, "Ann", "A", "ann@example.com", "555-1"),
        (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
      body(backend, store, state)
    }
  }

  test("an all-conflict insert returns 0 and commits nothing") {
    eachBackend("conflict") { (backend, store, state) =>
      val before = state()
      val n = store.insertNew(rows(
        (1L, "Cai", "C", "cai@example.com", "555-3"),   // stored id
        (3L, "Dee", "D", "ann@example.com", "555-4"),   // stored email
        (2L, "Bob", "B", "bob@example.com", "555-2")))  // both
      assert(n === 0L, s"[$backend]")
      assert(state() === before, s"[$backend] an all-conflict insert committed")
    }
  }

  test("an empty-batch merge returns MergeResult(0, 0, 0, 0) and commits nothing") {
    eachBackend("empty-merge") { (backend, store, state) =>
      val before = state()
      assert(store.merge(rows()) === MergeResult(0, 0, 0, 0), s"[$backend]")
      assert(state() === before, s"[$backend] an empty merge committed")
    }
  }

  test("a streaming upsert over two files terminates with the model's rows") {
    eachBackend("upsert-stream") { (backend, store, _) =>
      val dir = tmpDir(s"upsert-stream-$backend")
      val in = new File(dir, "in"); in.mkdirs()
      // One micro-batch per file: an update and an insert, then an
      // identical row, a second update of the same email and an id clash.
      Files.write(new File(dir, "00.csv").toPath,
        "1,Ann2,A,ann@example.com,555-9\n3,Cai,C,cai@example.com,555-3\n".getBytes)
      Files.write(new File(dir, "01.csv").toPath,
        ("2,Bob,B,bob@example.com,555-2\n1,Ann3,A,ann@example.com,555-8\n" +
          "3,Eve,E,eve@example.com,555-5\n").getBytes)
      // The file source takes files in modification-time order.
      Seq("00.csv", "01.csv").zipWithIndex.foreach { case (f, i) =>
        val dst = new File(in, f)
        Files.move(new File(dir, f).toPath, dst.toPath)
        assert(dst.setLastModified(System.currentTimeMillis() - 60000L + i * 10000L))
      }
      val q = graft.streaming.StreamingIngest.startUpsert(
        spark, in.toString, store, s"$dir/ckpt", header = false)
      try assert(q.awaitTermination(300000L), s"[$backend] the upsert stream did not finish")
      finally q.stop()
      assert(q.exception.isEmpty, s"[$backend] ${q.exception}")
      val got = store.all().select("id", "first_name", "email", "phone").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got === Set(
        (1L, "Ann3", "ann@example.com", "555-8"),
        (2L, "Bob", "bob@example.com", "555-2"),
        (3L, "Cai", "cai@example.com", "555-3")), s"[$backend]")
    }
  }
}
