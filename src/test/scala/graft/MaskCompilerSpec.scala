package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.blueprint.{Blueprint, MaskCompiler}

/** Unit coverage of the rule-compiler semantics (reference SET-builder,
  * /root/reference/src/Anonymizer.php:345–371).
  */
class MaskCompilerSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def df = spark.createDataFrame(
    Seq(Row(1, "orig", "keep1"), Row(2, "other", "keep2"),
      Row(3, "orig", "keep3")).asJava,
    StructType.fromDDL("id INT, a STRING, b STRING"))

  test("per-column where is evaluated against PRE-mask values") {
    // rule 1 rewrites a; rule 2's predicate references a — it must see the
    // original values (scan-time semantics), not 'X'
    val bp = Blueprint("t") { t =>
      t.primary("id")
      t.column("a").replaceWith("X")
      t.column("b").where("a = 'orig'").replaceWith("HIT")
    }
    val out = MaskCompiler(df, bp).collect().sortBy(_.getInt(0))
    assert(out.map(_.getString(1)).toSeq == Seq("X", "X", "X"))
    assert(out.map(_.getString(2)).toSeq == Seq("HIT", "keep2", "HIT"))
  }

  test("globalWhere is evaluated against PRE-mask values") {
    val bp = Blueprint("t") { t =>
      t.primary("id")
      t.globalWhere("a = 'orig'")
      t.column("a").replaceWith("X")
      t.column("b").replaceWith("Y")
    }
    val out = MaskCompiler(df, bp).collect().sortBy(_.getInt(0))
    assert(out.map(r => (r.getString(1), r.getString(2))).toSeq ==
      Seq(("X", "Y"), ("other", "keep2"), ("X", "Y")))
  }

  test("replacements see earlier columns' MASKED values (position-sensitive)") {
    val bp = Blueprint("t") { t =>
      t.primary("id")
      t.column("a").replaceWith("new")
      t.column("b").replaceWithExpr(r => concat(r("a"), lit("-suffix")))
    }
    val out = MaskCompiler(df, bp).collect()
    out.foreach(r => assert(r.getString(2) == "new-suffix"))
  }

  test("undeclared columns are never modified; schema preserved") {
    val bp = Blueprint("t") { t =>
      t.primary("id"); t.column("a").replaceWith("X")
    }
    val out = MaskCompiler(df, bp)
    assert(out.columns.toSeq == df.columns.toSeq)
    assert(out.select("id", "b").collect().map(_.toSeq).toSet ==
      df.select("id", "b").collect().map(_.toSeq).toSet)
  }

  test("RowClosure sees exactly the user-visible columns (no internals)") {
    // globalWhere + sync stash + #row# all attach internal columns; the
    // closure's Row must still have width 3 and the original field order
    val bp = Blueprint("t") { t =>
      t.primary("id")
      t.globalWhere("id > 0")
      t.column("a").replaceWith("a_#row#")
      t.column("b").replaceByFields(StringType) { r =>
        assert(r.length == 3, s"closure saw internal columns: $r")
        r.getAs[String]("a") + "/" + r.getInt(0)
      }
    }
    val out = MaskCompiler(df, bp, stashOld = Set("a"))
      .collect().sortBy(_.getInt(0))
    assert(out.map(_.getString(2)).toSeq ==
      Seq("a_0/1", "a_1/2", "a_2/3"))
  }

  test("#row# numbers only globalWhere-matching rows, contiguously") {
    val bp = Blueprint("t") { t =>
      t.primary("id")
      t.globalWhere("a = 'orig'")
      t.column("b").replaceWith("r#row#")
    }
    val out = MaskCompiler(df, bp).collect().sortBy(_.getInt(0))
    assert(out.map(_.getString(2)).toSeq == Seq("r0", "keep2", "r1"))
  }

  test("template compiler handles multiple and adjacent #row# tokens") {
    val bp = Blueprint("t") { t =>
      t.primary("id")
      t.column("a").replaceWith("#row#-x-#row#")
    }
    val out = MaskCompiler(df, bp).collect().sortBy(_.getInt(0))
    assert(out.map(_.getString(1)).toSeq == Seq("0-x-0", "1-x-1", "2-x-2"))
  }

  test("defaulted primary key is not demanded unless something uses it") {
    // df has no 'id' column; a static rule needs no pk → must compile
    val noId = df.select(col("a"), col("b"))
    val bp = Blueprint("t") { t => t.column("a").replaceWith("X") }
    assert(MaskCompiler(noId, bp).collect().forall(_.getString(0) == "X"))
    // but a #row# template DOES need the pk → clear failure
    val bp2 = Blueprint("t") { t => t.column("a").replaceWith("X#row#") }
    val e = intercept[IllegalArgumentException](MaskCompiler(noId, bp2))
    assert(e.getMessage.contains("id"))
  }

  test("unknown blueprint columns fail fast with the offending names") {
    val bp = Blueprint("t") { t =>
      t.primary("id"); t.column("nope").replaceWith("X")
    }
    val e = intercept[IllegalArgumentException](MaskCompiler(df, bp))
    assert(e.getMessage.contains("nope") && e.getMessage.contains("'t'"))
  }

  test("#row# numbering equals the row_number window over the primary key") {
    import org.apache.spark.sql.expressions.Window
    val shuffled = spark.createDataFrame(
      Seq(Row(3, "c", "x"), Row(1, "a", "y"), Row(5, "e", "x"),
        Row(2, "b", "y"), Row(4, "d", "x")).asJava,
      StructType.fromDDL("id INT, a STRING, b STRING"))
    for (where <- Seq(None, Some("b = 'x'"))) {
      val bp = Blueprint("t") { t =>
        t.primary("id"); where.foreach(t.globalWhere)
        t.column("a").replaceWith("n#row#")
      }
      val flag = where.fold(lit(true))(w => expr(w))
      val want = shuffled.select(col("id"), when(flag, concat(lit("n"),
        (row_number().over(Window.partitionBy(flag).orderBy("id")) - 1)
          .cast("string"))).otherwise(col("a")).as("a"))
      val got = MaskCompiler(shuffled, bp).select("id", "a")
      assert(got.orderBy("id").collect().toSeq ==
        want.orderBy("id").collect().toSeq, s"globalWhere $where")
    }
  }

  test("blueprint names resolve to the table's own spelling") {
    val users = spark.createDataFrame(
      Seq(Row(1, "x@y", "std"), Row(2, "z@y", "pro")).asJava,
      StructType.fromDDL("id INT, email STRING, tier STRING"))
    val bp = Blueprint("t") { t =>
      t.primary("ID")
      t.column("Email").where("tier = 'std'").replaceWith("masked")
      t.column("ID").replaceWithExpr(r => r("Id") + lit(100))
      t.column("TIER").replaceWith("T#row#")
    }
    val out = MaskCompiler(users, bp, stashOld = Set("Id"))
    assert(out.columns.toSeq == Seq("id", "email", "tier", "__graft_old_Id"))
    assert(out.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(101, "masked", "T0", 1), Seq(102, "z@y", "T1", 2)))
  }

  test("input columns named like internal ones pass through unchanged") {
    val wide = df.withColumn("__graft_rownum", lit(7L))
      .withColumn("__graft_guard_x", lit("g"))
      .withColumn("__graft_guard_0", lit(true))
    val bp = Blueprint("t") { t =>
      t.primary("id"); t.globalWhere("id > 1")
      t.column("a").where("b <> 'keep3'").replaceWith("r#row#")
    }
    val out = MaskCompiler(wide, bp)
    assert(out.columns.toSeq == wide.columns.toSeq)
    assert(out.orderBy("id").collect().map(_.toSeq).toSeq == Seq(
      Seq(1, "orig", "keep1", 7L, "g", true),
      Seq(2, "r0", "keep2", 7L, "g", true),
      Seq(3, "orig", "keep3", 7L, "g", true)))
  }

  test("input columns named like the numbering's internal ones pass " +
      "through unchanged") {
    val internals = Seq("__graft_rnflag", "__graft_rnmid", "__graft_rnpid",
      "__graft_rnadj", "__graft_rowcount", "__rs_g0", "__rs_mid", "__rs_pid",
      "__rs_local", "__rs_apid", "__rs_ag0", "__rs_adj")
    val wide = internals.foldLeft(df)((d, c) => d.withColumn(c, lit(-1)))
    val bp = Blueprint("t") { t =>
      t.primary("id"); t.globalWhere("a = 'orig'")
      t.column("b").replaceWith("r#row#")
    }
    val out = MaskCompiler(wide, bp)
    assert(out.columns.toSeq == wide.columns.toSeq)
    assert(out.orderBy("id").collect().map(_.toSeq).toSeq == Seq(
      Seq(1, "orig", "r0"), Seq(2, "other", "keep2"), Seq(3, "orig", "r1"))
      .map(_ ++ internals.map(_ => -1)))
  }

  test("#row# orders by a dotted primary-key name") {
    val dotted = df.withColumnRenamed("id", "user.id")
      .withColumn("user.id", lit(4) - col("`user.id`"))
    val bp = Blueprint("t") { t =>
      t.primary("user.id"); t.column("a").replaceWith("n#row#")
    }
    val out = MaskCompiler(dotted, bp).orderBy("`user.id`").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "n0"), (2, "n1"), (3, "n2")))
  }
}
