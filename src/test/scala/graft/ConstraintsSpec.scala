package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Constraints
import org.apache.spark.sql.graft.Constraints._

/** Row-table constraints (reference
  * `docs/reference/sql_reference/create-table.md` "Constraint (only for
  * Row Tables)" + "Identity Columns (only for Row Tables)"). Semantics
  * proven here, one test per documented rule:
  *  - NOT NULL rejects nulls; PK columns are implicitly NOT NULL;
  *  - UNIQUE: "NULL values are not allowed", intra-statement duplicates
  *    and collisions with existing rows both reject;
  *  - FOREIGN KEY admits any-null-component tuples, RESTRICTs parent
  *    delete / key update / PUT replacement / TRUNCATE / DROP;
  *  - CHECK fails only on FALSE — UNKNOWN passes (SQL standard);
  *  - GENERATED ALWAYS rejects supplied values and updates; BY DEFAULT
  *    honors explicit values; fills are gap-free per statement;
  *  - the identity high-water mark rides checkpoint/restore (a restored
  *    table never re-issues values) and TRUNCATE resets it;
  *  - constraint DDL is row-table-only (column tables reject).
  */
class ConstraintsSpec extends SparkTestBase {

  private def g = GraftSession(spark)
  import spark.implicits._

  private def msg(t: Throwable): String = {
    var c: Throwable = t
    val sb = new StringBuilder
    while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
    sb.result()
  }

  private def expectViolation(substr: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    assert(msg(e).toLowerCase.contains(substr.toLowerCase),
      s"expected failure mentioning '$substr', got: ${msg(e)}")
  }

  // ---- DDL extraction (unit) ----

  test("extract: column-level constraint mix parses and strips clean DDL") {
    val (clean, tc) = Constraints.extract(
      "id bigint generated by default as identity (start with 10, increment by 5), " +
        "name varchar(20) not null comment 'the name', " +
        "email string constraint uq_email unique, " +
        "age int check (age > 0), " +
        "dept int references c_dept (d_id), " +
        "pk_col int primary key")
    assert(clean.contains("`name` varchar(20) COMMENT 'the name'"))
    assert(!clean.toUpperCase.contains("UNIQUE") && !clean.toUpperCase.contains("CHECK"))
    assert(tc.notNull == Seq("name"))
    assert(tc.uniques.map(u => (u.name, u.columns)) == Seq(("uq_email", Seq("email"))))
    assert(tc.checks.map(_.exprSql) == Seq("age > 0"))
    assert(tc.foreignKeys.map(f => (f.columns, f.refTable, f.refColumns)) ==
      Seq((Seq("dept"), "c_dept", Seq("d_id"))))
    assert(tc.primaryKey == Seq("pk_col"))
    val id = tc.identity.get
    assert(!id.always && id.column == "id" && id.startWith == 10 && id.incrementBy == 5)
  }

  test("extract: nested-type commas stay inside one column def; unspaced comparisons don't break the split") {
    // struct/map type parameters carry top-level-looking commas; the
    // splitter must respect <...> nesting WITHOUT letting an unspaced
    // comparison inside a CHECK (a<5 — '<' follows an identifier char)
    // unbalance the bracket count and swallow later columns
    val (clean, tc) = Constraints.extract(
      "a int check(a<5), st struct<x:int, y:string>, " +
        "mp map<string,int>, b int check (b<=10), c int not null")
    assert(clean.contains("struct<x:int, y:string>"))
    assert(clean.contains("map<string,int>"))
    assert(tc.checks.map(_.exprSql).toSet == Set("a<5", "b<=10"))
    assert(tc.notNull == Seq("c"))
    // only the TYPE-CONSTRUCTOR keywords open an angle bracket: an
    // unparenthesized '<' after an arbitrary identifier (a future
    // default/generated-expression grammar) must not swallow the
    // following column defs
    assert(Constraints.splitTopLevel("a int, b int, x<y, c int not null") ==
      Seq("a int", "b int", "x<y", "c int not null"))
    assert(Constraints.splitTopLevel(
      "s struct<a:int, m:map<string,int>>, t string") ==
      Seq("s struct<a:int, m:map<string,int>>", "t string"))
  }

  test("extract: table-level constraints (named and anonymous)") {
    val (clean, tc) = Constraints.extract(
      "a int, b int, c string, " +
        "constraint pk_ab primary key (a, b), " +
        "constraint uq_c unique (c), " +
        "constraint fk_a foreign key (a) references parent (x), " +
        "check (a < b)")
    assert(clean == "`a` int, `b` int, `c` string")
    assert(tc.primaryKey == Seq("a", "b"))
    assert(tc.uniques == Seq(UniqueConstraint("uq_c", Seq("c"))))
    assert(tc.foreignKeys ==
      Seq(ForeignKey("fk_a", Seq("a"), "parent", Seq("x"))))
    assert(tc.checks.map(_.exprSql) == Seq("a < b"))
    // anonymous constraints get generated unique names (create-table.md)
    assert(tc.checks.head.name.nonEmpty)
  }

  test("extract: GENERATED ALWAYS rejects START WITH (create-table.md)") {
    intercept[IllegalArgumentException](Constraints.extract(
      "id int generated always as identity (start with 5), v string"))
  }

  test("encode/decode round-trips every constraint class incl. the identity mark") {
    val tc = TableConstraints(
      notNull = Seq("a", "weird;name"),
      checks = Seq(CheckConstraint("ck1", "a > 0 AND b IN ('x,y', 'z|w')")),
      uniques = Seq(UniqueConstraint("uq1", Seq("b", "c"))),
      foreignKeys = Seq(ForeignKey("fk1", Seq("a", "b"), "par", Seq("x", "y"))),
      identity = Some(IdentitySpec("a", always = false, startWith = -3, incrementBy = 7)),
      primaryKey = Seq("a"))
    tc.identity.get.nextOrdinal.set(42L)
    val back = Constraints.decodeConstraints(Constraints.encode(tc))
    assert(back.notNull == tc.notNull)
    assert(back.checks == tc.checks)
    assert(back.uniques == tc.uniques)
    assert(back.foreignKeys == tc.foreignKeys)
    assert(back.primaryKey == tc.primaryKey)
    val id = back.identity.get
    assert(id.column == "a" && !id.always && id.startWith == -3 &&
      id.incrementBy == 7 && id.nextOrdinal.get == 42L)
  }

  // ---- shape validation at CREATE ----

  test("CREATE rejects: unknown column, non-integer identity, FK to a non-key parent column") {
    expectViolation("unknown column")(g.sql(
      "CREATE TABLE c_shape1 (a int, constraint uq unique (nope)) USING row"))
    expectViolation("must be INTEGER or BIGINT")(g.sql(
      "CREATE TABLE c_shape2 (a string generated by default as identity, b int) USING row"))
    g.sql("CREATE TABLE c_shape_par (pid int primary key, pname string) USING row")
    try expectViolation("not the parent's PRIMARY KEY or a UNIQUE constraint")(g.sql(
      "CREATE TABLE c_shape3 (a int references c_shape_par (pname)) USING row"))
    finally g.dropTable("c_shape_par")
  }

  test("constraints are row-table-only: a column table rejects them") {
    expectViolation("only for row tables")(g.sql(
      "CREATE TABLE c_colbad (a int unique) USING column"))
  }

  // ---- NOT NULL + CHECK ----

  test("NOT NULL rejects nulls; PK columns are implicitly NOT NULL") {
    g.sql("CREATE TABLE c_nn (id int primary key, v string not null, w int) USING row")
    try {
      g.insert("c_nn", Seq((1, "a", 5)).toDF("id", "v", "w"))
      expectViolation("NOT NULL constraint on column 'v'")(
        g.insert("c_nn", Seq((2, null.asInstanceOf[String], 5)).toDF("id", "v", "w")))
      // PK promotion: a null PK fails NOT NULL even though only PRIMARY
      // KEY was declared ("The identified columns must be defined as NOT
      // NULL" — create-table.md)
      expectViolation("NOT NULL constraint on column 'id'")(
        g.insert("c_nn", Seq(("b", 5)).toDF("v", "w")
          .select(lit(null).cast("int").as("id"), col("v"), col("w"))))
      // w is unconstrained: null passes
      g.insert("c_nn", Seq((3, "c", null.asInstanceOf[Integer]))
        .toDF("id", "v", "w"))
      assert(g.table("c_nn").count() == 2)
    } finally g.dropTable("c_nn")
  }

  test("CHECK fails only on FALSE; UNKNOWN (null) passes") {
    g.sql("CREATE TABLE c_ck (id int primary key, age int check (age > 0), " +
      "lo int, hi int, constraint ck_range check (lo <= hi)) USING row")
    try {
      g.insert("c_ck", Seq((1, 30, 1, 2)).toDF("id", "age", "lo", "hi"))
      // age is NULL -> predicate UNKNOWN -> admitted (SQL standard)
      g.insert("c_ck", Seq((2, null.asInstanceOf[Integer], 1, 2))
        .toDF("id", "age", "lo", "hi"))
      expectViolation("CHECK constraint")(
        g.insert("c_ck", Seq((3, -1, 1, 2)).toDF("id", "age", "lo", "hi")))
      expectViolation("ck_range")(
        g.insert("c_ck", Seq((4, 10, 5, 2)).toDF("id", "age", "lo", "hi")))
      assert(g.table("c_ck").count() == 2)
      // UPDATE re-validates the post-image of affected rows
      expectViolation("CHECK constraint")(
        g.update("c_ck", col("id") === 1, "age" -> lit(-7)))
      g.update("c_ck", col("id") === 1, "age" -> lit(31))
      assert(g.table("c_ck").filter(col("id") === 1).head().getInt(1) == 31)
    } finally g.dropTable("c_ck")
  }

  // ---- UNIQUE ----

  test("UNIQUE: nulls rejected, statement dups rejected, collisions rejected") {
    g.sql("CREATE TABLE c_uq (id int primary key, email string unique, v int) USING row")
    try {
      g.insert("c_uq", Seq((1, "a@x", 1), (2, "b@x", 2)).toDF("id", "email", "v"))
      // "NULL values are not allowed" (create-table.md)
      expectViolation("NULL values are not allowed")(
        g.insert("c_uq", Seq((3, null.asInstanceOf[String], 3)).toDF("id", "email", "v")))
      expectViolation("duplicate values within the statement")(
        g.insert("c_uq", Seq((4, "d@x", 4), (5, "d@x", 5)).toDF("id", "email", "v")))
      expectViolation("value already exists")(
        g.insert("c_uq", Seq((6, "a@x", 6)).toDF("id", "email", "v")))
      g.insert("c_uq", Seq((7, "c@x", 7)).toDF("id", "email", "v"))
      assert(g.table("c_uq").count() == 3)
      // UPDATE into a collision rejects; to a fresh value passes
      expectViolation("value already exists")(
        g.update("c_uq", col("id") === 7, "email" -> lit("a@x")))
      g.update("c_uq", col("id") === 7, "email" -> lit("c2@x"))
    } finally g.dropTable("c_uq")
  }

  test("PUT INTO: a row may be re-put with its own unique value; stealing another row's rejects") {
    g.sql("CREATE TABLE c_uqp (id int primary key, email string unique, v int) USING row")
    try {
      g.insert("c_uqp", Seq((1, "a@x", 1), (2, "b@x", 2)).toDF("id", "email", "v"))
      // pk 1 keeps its own unique value through a PUT (replaced-key
      // exclusion): not a collision
      g.putInto("c_uqp", Seq((1, "a@x", 99)).toDF("id", "email", "v"))
      assert(g.table("c_uqp").filter(col("id") === 1).head().getInt(2) == 99)
      // pk 3 (new row) claiming pk-2's live unique value: collision
      expectViolation("value already exists")(
        g.putInto("c_uqp", Seq((3, "b@x", 3)).toDF("id", "email", "v")))
    } finally g.dropTable("c_uqp")
  }

  // ---- FOREIGN KEY ----

  test("FK child-side: orphans rejected, any-null-component tuples admitted") {
    // a two-column FK must reference a two-column parent key (UNIQUE here)
    g.sql("CREATE TABLE c_par2 (x int, y int, constraint uq_xy unique (x, y)) USING row")
    g.sql("CREATE TABLE c_child2 (cid int primary key, a int, b int, " +
      "constraint fk_ab foreign key (a, b) references c_par2 (x, y)) USING row")
    try {
      g.insert("c_par2", Seq((1, 10), (2, 20)).toDF("x", "y"))
      g.insert("c_child2", Seq((1, 1, 10)).toDF("cid", "a", "b"))
      expectViolation("FOREIGN KEY constraint fk_ab")(
        g.insert("c_child2", Seq((2, 1, 20)).toDF("cid", "a", "b")))
      // "If the foreign key consists of multiple columns and any column
      // is NULL, then the whole key is considered NULL. The insert is
      // permitted no matter what is in the non-null columns."
      g.insert("c_child2", Seq((3, 999, null.asInstanceOf[Integer]))
        .toDF("cid", "a", "b"))
      assert(g.table("c_child2").count() == 2)
    } finally {
      g.dropTable("c_child2"); g.dropTable("c_par2")
    }
  }

  test("FK parent-side RESTRICT: delete / key update / truncate / drop") {
    g.sql("CREATE TABLE c_rpar (pid int primary key, pname string) USING row")
    g.sql("CREATE TABLE c_rchild (cid int primary key, pid int, " +
      "constraint fk_p foreign key (pid) references c_rpar (pid)) USING row")
    try {
      g.insert("c_rpar", Seq((1, "a"), (2, "b"), (3, "c")).toDF("pid", "pname"))
      g.insert("c_rchild", Seq((10, 1), (11, 1)).toDF("cid", "pid"))
      // referenced key: delete refused
      expectViolation("referenced by foreign key fk_p")(
        g.delete("c_rpar", col("pid") === 1))
      // unreferenced key: fine
      g.delete("c_rpar", col("pid") === 3)
      assert(g.table("c_rpar").count() == 2)
      // rewriting a referenced key away: refused (same RESTRICT)
      expectViolation("referenced by foreign key fk_p")(
        g.update("c_rpar", col("pid") === 1, "pid" -> lit(99)))
      // non-key column update on the parent: fine
      g.update("c_rpar", col("pid") === 1, "pname" -> lit("a2"))
      // TRUNCATE / DROP refused while the FK exists
      expectViolation("referenced by foreign key")(g.truncateTable("c_rpar"))
      expectViolation("referenced by foreign key")(g.dropTable("c_rpar"))
      // once the children die, the parent may go
      g.delete("c_rchild", lit(true))
      g.delete("c_rpar", col("pid") === 1)
      assert(g.table("c_rpar").count() == 1)
    } finally {
      g.dropTable("c_rchild")
      g.dropTable("c_rpar")
    }
  }

  // ---- IDENTITY ----

  test("GENERATED ALWAYS: rejects supplied values and updates, fills omitted") {
    g.sql("CREATE TABLE c_alw (id int generated always as identity, ch string) USING row")
    try {
      // "You cannot insert a value directly into a GENERATED ALWAYS
      // identity column" (create-table.md)
      expectViolation("GENERATED ALWAYS")(
        g.insert("c_alw", Seq((5, "boom")).toDF("id", "ch")))
      // "leave the identity column out of the insertion column list"
      g.insert("c_alw", Seq("hello", "hi").toDF("ch"))
      // or pass NULL (the DEFAULT-keyword equivalent at the API layer)
      g.insert("c_alw", Seq(Tuple1("hey")).toDF("ch")
        .select(lit(null).cast("int").as("id"), col("ch")))
      val got = g.table("c_alw").orderBy("id").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got == Seq((1, "hello"), (2, "hi"), (3, "hey")))
      // "you cannot update a value in a GENERATED ALWAYS identity column"
      expectViolation("GENERATED ALWAYS")(
        g.update("c_alw", col("ch") === "hi", "id" -> lit(9)))
    } finally g.dropTable("c_alw")
  }

  test("GENERATED BY DEFAULT: explicit values honored, sequence fills the rest, gap-free per statement") {
    g.sql("CREATE TABLE c_dflt (id bigint generated by default as identity " +
      "(start with 100, increment by 10), ch string) USING row")
    try {
      // explicit value: used verbatim, does not consume a sequence slot
      g.insert("c_dflt", Seq((7L, "explicit")).toDF("id", "ch"))
      // one statement, three omitted values: a gap-free block
      g.insert("c_dflt", Seq("a", "b", "c").toDF("ch"))
      val ids = g.table("c_dflt").filter(col("ch") =!= "explicit")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(100L, 110L, 120L), s"expected 100,110,120 got $ids")
      // the next statement continues where the block ended
      g.insert("c_dflt", Seq("d").toDF("ch"))
      val all = g.table("c_dflt").select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(all == Seq(7L, 100L, 110L, 120L, 130L))
      // mixed statement: explicit rows keep their value, nulls fill
      val schema = g.table("c_dflt").schema
      g.insert("c_dflt", spark.createDataFrame(
        java.util.Arrays.asList(Row(8L, "x"), Row(null, "y")), schema))
      val afterMixed = g.table("c_dflt").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(afterMixed == Seq(7L, 8L, 100L, 110L, 120L, 130L, 140L))
    } finally g.dropTable("c_dflt")
  }

  test("INTEGER identity overflow is rejected, not wrapped") {
    g.sql("CREATE TABLE c_ovfl (id int generated by default as identity " +
      "(start with 2147483646), ch string) USING row")
    try {
      g.insert("c_ovfl", Seq("a", "b").toDF("ch")) // 2147483646, 2147483647
      val e = intercept[Exception](g.insert("c_ovfl", Seq("c").toDF("ch")))
      assert(msg(e).contains("overflows INTEGER"))
    } finally g.dropTable("c_ovfl")
  }

  test("TRUNCATE resets the identity sequence to START WITH") {
    g.sql("CREATE TABLE c_trunc (id bigint generated by default as identity " +
      "(start with 5, increment by 5), ch string) USING row")
    try {
      g.insert("c_trunc", Seq("a", "b").toDF("ch")) // 5, 10
      g.truncateTable("c_trunc")
      g.insert("c_trunc", Seq("c").toDF("ch"))
      assert(g.table("c_trunc").select("id").head().getLong(0) == 5L)
    } finally g.dropTable("c_trunc")
  }

  // ---- ALTER TABLE ADD / DROP CONSTRAINT + sys.constraints ----

  test("ALTER TABLE ADD CONSTRAINT validates existing rows, then binds") {
    g.sql("CREATE TABLE c_alt (id int primary key, v int, email string) USING row")
    try {
      g.insert("c_alt", Seq((1, 5, "a@x"), (2, -3, "b@x")).toDF("id", "v", "email"))
      // existing data violates: the ADD itself is refused, nothing binds
      expectViolation("CHECK constraint")(
        g.sql("ALTER TABLE c_alt ADD CONSTRAINT ck_pos CHECK (v > 0)"))
      g.insert("c_alt", Seq((3, -9, "c@x")).toDF("id", "v", "email")) // still unbound
      g.delete("c_alt", col("v") < 0)
      // now the data conforms: ADD binds and enforces from here on
      g.sql("ALTER TABLE c_alt ADD CONSTRAINT ck_pos CHECK (v > 0)")
      expectViolation("ck_pos")(
        g.insert("c_alt", Seq((4, -1, "d@x")).toDF("id", "v", "email")))
      // UNIQUE the same way
      g.sql("ALTER TABLE c_alt ADD CONSTRAINT uq_email UNIQUE (email)")
      expectViolation("value already exists")(
        g.insert("c_alt", Seq((5, 1, "a@x")).toDF("id", "v", "email")))
      // duplicate constraint name rejected
      expectViolation("already exists")(
        g.sql("ALTER TABLE c_alt ADD CONSTRAINT ck_pos CHECK (v < 100)"))
      // DROP releases the rule
      g.sql("ALTER TABLE c_alt DROP CONSTRAINT ck_pos")
      g.insert("c_alt", Seq((6, -2, "f@x")).toDF("id", "v", "email"))
      expectViolation("no UNIQUE / FOREIGN KEY / CHECK constraint named")(
        g.sql("ALTER TABLE c_alt DROP CONSTRAINT nope"))
    } finally g.dropTable("c_alt")
  }

  test("ALTER ADD FOREIGN KEY validates existing orphans; DROP UNIQUE restricts while referenced") {
    g.sql("CREATE TABLE c_alt_par (code string, constraint uq_code unique (code)) USING row")
    g.sql("CREATE TABLE c_alt_ch (cid int primary key, code string) USING row")
    try {
      g.insert("c_alt_par", Seq("A", "B").toDF("code"))
      g.insert("c_alt_ch", Seq((1, "A"), (2, "Z")).toDF("cid", "code"))
      // existing orphan 'Z': ADD FK refused
      expectViolation("FOREIGN KEY constraint")(g.sql(
        "ALTER TABLE c_alt_ch ADD CONSTRAINT fk_code FOREIGN KEY (code) " +
          "REFERENCES c_alt_par (code)"))
      g.delete("c_alt_ch", col("code") === "Z")
      g.sql("ALTER TABLE c_alt_ch ADD CONSTRAINT fk_code FOREIGN KEY (code) " +
        "REFERENCES c_alt_par (code)")
      // bound: orphan inserts refuse, parent delete restricts
      expectViolation("fk_code")(
        g.insert("c_alt_ch", Seq((3, "Q")).toDF("cid", "code")))
      expectViolation("referenced by foreign key fk_code")(
        g.delete("c_alt_par", col("code") === "A"))
      // the UNIQUE now carries a dependent FK: DROP restricts
      expectViolation("cannot drop UNIQUE 'uq_code'")(
        g.sql("ALTER TABLE c_alt_par DROP CONSTRAINT uq_code"))
      // release the FK first, then the UNIQUE drops
      g.sql("ALTER TABLE c_alt_ch DROP CONSTRAINT fk_code")
      g.sql("ALTER TABLE c_alt_par DROP CONSTRAINT uq_code")
    } finally {
      g.dropTable("c_alt_ch"); g.dropTable("c_alt_par")
    }
  }

  test("ALTER ADD PRIMARY KEY only as metadata over the existing key layout") {
    // the API-created table has a physical key but NO registry entry —
    // the one legal ADD PRIMARY KEY shape (SQL-created keyed tables
    // register their PK at CREATE and refuse a second one)
    g.createTable("c_alt_pk", Seq((1, "x")).toDF("a", "b"),
      keyColumns = Seq("a"), provider = "row")
    try {
      // mismatching the physical layout: refused
      expectViolation("must match the table's physical key layout")(
        g.sql("ALTER TABLE c_alt_pk ADD PRIMARY KEY (b)"))
      // matching it: binds (and promotes NOT NULL)
      g.sql("ALTER TABLE c_alt_pk ADD PRIMARY KEY (a)")
      expectViolation("NOT NULL constraint on column 'a'")(
        g.insert("c_alt_pk", Seq(Tuple1("x")).toDF("b")
          .select(lit(null).cast("int").as("a"), col("b"))))
      // a second PK refuses — also the SQL-created-table case
      expectViolation("already has a PRIMARY KEY")(
        g.sql("ALTER TABLE c_alt_pk ADD PRIMARY KEY (a)"))
    } finally g.dropTable("c_alt_pk")
  }

  test("DROP COLUMN restricts while any constraint references the column") {
    g.sql("CREATE TABLE c_dropcol (id int primary key, v int check (v > 0), " +
      "email string unique, w int) USING row")
    try {
      expectViolation("referenced by the PRIMARY KEY")(
        g.sql("ALTER TABLE c_dropcol DROP COLUMN id"))
      expectViolation("referenced by a NOT NULL constraint")(
        locally {
          // NOT NULL alone (not PK-promoted) also restricts
          org.apache.spark.sql.graft.Constraints.assertColumnDroppable(
            "c_dropcol_nn_probe", "x")
          val tc = org.apache.spark.sql.graft.Constraints.TableConstraints(
            notNull = Seq("x"))
          org.apache.spark.sql.graft.Constraints.register("c_dropcol_nn_probe", tc)
          try org.apache.spark.sql.graft.Constraints.assertColumnDroppable(
            "c_dropcol_nn_probe", "x")
          finally org.apache.spark.sql.graft.Constraints.drop("c_dropcol_nn_probe")
        })
      expectViolation("referenced by CHECK constraint")(
        g.sql("ALTER TABLE c_dropcol DROP COLUMN v"))
      expectViolation("referenced by UNIQUE constraint")(
        g.sql("ALTER TABLE c_dropcol DROP COLUMN email"))
      g.sql("ALTER TABLE c_dropcol DROP COLUMN w") // unconstrained: fine
      assert(!g.table("c_dropcol").columns.contains("w"))
    } finally g.dropTable("c_dropcol")
  }

  test("sys.constraints lists every constraint class, live") {
    g.sql("CREATE TABLE c_sys_par (pid int primary key, pname string) USING row")
    g.sql("CREATE TABLE c_sys (sid bigint generated by default as identity " +
      "(start with 9, increment by 3), v int not null check (v >= 0), " +
      "email string, pid int, constraint uq_e unique (email), " +
      "constraint fk_p foreign key (pid) references c_sys_par (pid), " +
      "primary key (sid)) USING row")
    try {
      val rows = spark.sql(
        "SELECT constraint_name, constraint_type, columns, ref_table, detail " +
          "FROM sys.constraints WHERE table_name = 'c_sys' ORDER BY constraint_name")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4))).toSeq
      assert(rows.exists(r => r._1 == "primary_key" && r._2 == "PRIMARY KEY" && r._3 == "sid"))
      assert(rows.exists(r => r._2 == "CHECK" && r._5 == "v >= 0"))
      assert(rows.exists(r => r._1 == "uq_e" && r._2 == "UNIQUE" && r._3 == "email"))
      assert(rows.exists(r =>
        r._1 == "fk_p" && r._2 == "FOREIGN KEY" && r._4 == "c_sys_par"))
      assert(rows.exists(r => r._1 == "not_null" && r._3 == "v"))
      assert(rows.exists(r => r._2 == "IDENTITY BY DEFAULT" && r._3 == "sid" &&
        r._5 == "START WITH 9 INCREMENT BY 3"))
      // live: a DROP CONSTRAINT disappears on the next poll
      g.sql("ALTER TABLE c_sys DROP CONSTRAINT uq_e")
      assert(spark.sql("SELECT * FROM sys.constraints " +
        "WHERE table_name = 'c_sys' AND constraint_name = 'uq_e'").isEmpty)
    } finally {
      g.dropTable("c_sys"); g.dropTable("c_sys_par")
    }
  }

  // ---- checkpoint / restore ----

  test("identity high-water mark and enforcement survive checkpoint -> restore") {
    val dir = tempDir("c_ckpt").toString
    g.sql("CREATE TABLE c_ckpt (id bigint generated by default as identity " +
      "(start with 100, increment by 10), v string not null, " +
      "email string unique, primary key (id)) USING row")
    g.insert("c_ckpt", Seq(("a", "a@x"), ("b", "b@x")).toDF("v", "email")) // 100, 110
    g.checkpointTable("c_ckpt", dir)
    // simulate a fresh JVM: drop the table, which clears BOTH the store
    // and the constraint registry
    g.dropTable("c_ckpt")
    assert(Constraints.get("c_ckpt").isEmpty, "registry cleared by drop")
    g.restoreTable("c_ckpt", dir)
    try {
      // constraints re-registered from the sidecar: violations still throw
      expectViolation("NOT NULL constraint on column 'v'")(
        g.insert("c_ckpt", Seq(Tuple1("c@x")).toDF("email")
          .select(lit(null).cast("string").as("v"), col("email"))))
      expectViolation("value already exists")(
        g.insert("c_ckpt", Seq(("c", "a@x")).toDF("v", "email")))
      // the high-water mark rode along: the sequence CONTINUES past 110,
      // it does not restart at 100 (which would collide with live rows).
      // Exact value is not pinned: like Derby, a statement that fails
      // AFTER identity fill burns its reserved block (the two violating
      // inserts above each consumed an ordinal) — gaps are legal,
      // re-issues are not.
      g.insert("c_ckpt", Seq(("c", "c@x")).toDF("v", "email"))
      val ids = g.table("c_ckpt").select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids.take(2) == Seq(100L, 110L) && ids.size == 3 &&
        ids.distinct.size == 3 && ids(2) >= 120L,
        s"expected the sequence to continue without re-issuing: $ids")
    } finally g.dropTable("c_ckpt")
  }
}
