package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

import graft.GraftQuery

/** The reference's flagship curated transform, run literally: 8 temp
  * views → one SQL query → cache → coalesce(1) → parquet overwrite
  * (k8s/codes/transformation.py:26-53 with the QUERY from
  * k8s/codes/variables.py:18-89).
  *
  * Two documented deviations from the reference text, zero semantic
  * change (SURVEY.md §7.4):
  *  - `WITH all_sales (` is normalized to `WITH all_sales AS (` — the
  *    Spark 4 parser reads the bare parens as a CTE column-alias list;
  *  - double-quoted string literals (`"$"`) become single-quoted —
  *    same tokens under Spark defaults, and portable.
  */
object CuratedQuery {

  val fixtureDir = "/root/repo/fixtures/adventureworks"

  /** View registry (variables.py:5-14). */
  val views: Seq[String] = Seq(
    "Customers", "Product_Categories", "Product_Subcategories",
    "Products", "Returns", "Sales_2015", "Sales_2016", "Sales_2017")

  /** The curated QUERY (variables.py:18-89), normalized per above. */
  val querySql: String =
    """WITH all_sales AS (
      |    SELECT * FROM Sales_2015
      |    UNION ALL
      |    SELECT * FROM Sales_2016
      |    UNION ALL
      |    SELECT * FROM Sales_2017
      |), info AS (
      |SELECT
      |    cast(from_unixtime(unix_timestamp(a.OrderDate, 'M/d/yyyy'), 'yyyy-MM-dd') as date) as OrderDate,
      |    cast(from_unixtime(unix_timestamp(a.StockDate, 'M/d/yyyy'), 'yyyy-MM-dd') as date) as StockDate,
      |    cast(a.CustomerKey as int) as CustomerKey,
      |    cast(a.TerritoryKey as int) as TerritoryKey,
      |    cast(a.OrderLineItem as int) as OrderLineItem,
      |    cast(a.OrderQuantity as int) as OrderQuantity,
      |    b.Prefix,
      |    b.FirstName,
      |    b.LastName,
      |    cast(from_unixtime(unix_timestamp(b.BirthDate, 'M/d/yyyy'), 'yyyy-MM-dd') as date) as BirthDate,
      |    b.MaritalStatus,
      |    b.Gender,
      |    b.EmailAddress,
      |    cast(replace(replace(b.AnnualIncome, '$', ''), ',', '') as decimal(10,2)) as AnnualIncome,
      |    cast(b.TotalChildren as int) as TotalChildren,
      |    b.EducationLevel,
      |    b.Occupation,
      |    b.HomeOwner,
      |    cast(c.ProductKey as int) as ProductKey,
      |    cast(d.ProductSubcategoryKey as int) as ProductSubcategoryKey,
      |    d.SubcategoryName,
      |    cast(d.ProductCategoryKey as int) as ProductCategoryKey,
      |    e.CategoryName,
      |    c.ProductSKU,
      |    c.ProductName,
      |    c.ModelName,
      |    c.ProductDescription,
      |    c.ProductColor,
      |    cast(c.ProductSize as int) as ProductSize,
      |    c.ProductStyle,
      |    cast(c.ProductCost as decimal(10,2)) as ProductCost,
      |    cast(c.ProductPrice as decimal(10,2)) as ProductPrice,
      |    cast(from_unixtime(unix_timestamp(f.ReturnDate, 'M/d/yyyy'), 'yyyy-MM-dd') as date) as ReturnDate,
      |    NVL(cast(f.ReturnQuantity as int), 0) as ReturnQuantity
      |FROM
      |    all_sales a
      |LEFT JOIN Customers b ON a.CustomerKey = b.CustomerKey
      |LEFT JOIN Products c ON a.ProductKey = c.ProductKey
      |LEFT JOIN Product_Subcategories d ON c.ProductSubcategoryKey = d.ProductSubcategoryKey
      |LEFT JOIN Product_Categories e ON d.ProductCategoryKey = e.ProductCategoryKey
      |LEFT JOIN Returns f ON a.TerritoryKey = f.TerritoryKey AND c.ProductKey = f.ProductKey
      |)
      |SELECT * FROM info""".stripMargin

  /** Register the 8 views from all-string parquet under `processingDir`
    * (the output layout of [[CsvToParquet]] runs), run the QUERY, drop
    * the views BEFORE the action — plan resolution is eager, execution
    * lazy, exactly the reference's order (transformation.py:30-44).
    */
  def transform(spark: SparkSession, processingDir: String): DataFrame = {
    GraftSession.tuned(spark)
    views.foreach { v =>
      spark.read.format("parquet")
        .load(s"$processingDir/AdventureWorks_AdventureWorks_$v")
        .createOrReplaceTempView(v)
    }
    val df = spark.sql(querySql)
    views.foreach(spark.catalog.dropTempView)
    df
  }

  /** The full reference pipeline: 8× CSV→Parquet, curated transform,
    * cache-before-write (transformation.py:46), single-file parquet
    * overwrite. Returns the curated DataFrame (post-action, cached).
    */
  def runPipeline(spark: SparkSession, csvDir: String, processingDir: String,
      curatedDir: String): DataFrame = {
    views.foreach { v =>
      CsvToParquet.run(spark, s"$csvDir/AdventureWorks_$v.csv",
        s"$processingDir/AdventureWorks_AdventureWorks_$v")
    }
    val df = transform(spark, processingDir)
    df.cache()
    df.coalesce(1).write.format("parquet").mode("overwrite").save(curatedDir)
    df
  }

  // ---- registered query ------------------------------------------------

  /** q_curated: the QUERY over the committed AdventureWorks fixtures,
    * views registered straight from the all-string CSVs (identical
    * schemas to the CsvToParquet round-trip — parquet preserves the
    * all-string ingest; the round-trip itself is covered by the golden
    * pipeline test). Output contract: decimals → DOUBLE, deterministic
    * ORDER BY.
    */
  def curatedQuery(s: SparkSession, dir: String): DataFrame = {
    views.foreach { v =>
      CsvToParquet.readCsvAllString(s, s"$fixtureDir/AdventureWorks_$v.csv")
        .createOrReplaceTempView(v)
    }
    val df = s.sql(querySql)
    views.foreach(s.catalog.dropTempView)
    df
      .withColumn("AnnualIncome", col("AnnualIncome").cast(DoubleType))
      .withColumn("ProductCost", col("ProductCost").cast(DoubleType))
      .withColumn("ProductPrice", col("ProductPrice").cast(DoubleType))
      // EVERY sort key pinned nulls-first: lenient casts mean any key can
      // be NULL on dirty input, and Spark (NULLS FIRST) and DuckDB
      // (NULLS LAST) default differently. OrderQuantity + StockDate
      // tighten the order toward total: without them, two same-day
      // orders of one product by one customer in one territory with the
      // same line-item number would tie on all keys and Spark/DuckDB
      // could break the tie differently, flipping the row-hash gate.
      .orderBy(
        col("OrderDate").asc_nulls_first, col("CustomerKey").asc_nulls_first,
        col("OrderLineItem").asc_nulls_first, col("ProductKey").asc_nulls_first,
        col("TerritoryKey").asc_nulls_first, col("ReturnDate").asc_nulls_first,
        col("ReturnQuantity").asc_nulls_first,
        col("OrderQuantity").asc_nulls_first, col("StockDate").asc_nulls_first)
  }

  private def csvView(v: String): String =
    s""""$v" AS (SELECT * FROM read_csv('$fixtureDir/AdventureWorks_$v.csv', header=true, all_varchar=true))"""

  /** DuckDB oracle: same QUERY in DuckDB dialect over the same CSVs
    * (try_strptime / TRY_CAST = lenient-cast parity; SURVEY.md §7.6).
    */
  val curatedOracle: String =
    s"""WITH ${views.map(csvView).mkString(",\n")},
       |all_sales AS (
       |  SELECT * FROM Sales_2015 UNION ALL SELECT * FROM Sales_2016 UNION ALL SELECT * FROM Sales_2017
       |), info AS (
       |SELECT
       |  CAST(try_strptime(a.OrderDate, '%-m/%-d/%Y') AS DATE) AS OrderDate,
       |  CAST(try_strptime(a.StockDate, '%-m/%-d/%Y') AS DATE) AS StockDate,
       |  TRY_CAST(a.CustomerKey AS INTEGER) AS CustomerKey,
       |  TRY_CAST(a.TerritoryKey AS INTEGER) AS TerritoryKey,
       |  TRY_CAST(a.OrderLineItem AS INTEGER) AS OrderLineItem,
       |  TRY_CAST(a.OrderQuantity AS INTEGER) AS OrderQuantity,
       |  b.Prefix, b.FirstName, b.LastName,
       |  CAST(try_strptime(b.BirthDate, '%-m/%-d/%Y') AS DATE) AS BirthDate,
       |  b.MaritalStatus, b.Gender, b.EmailAddress,
       |  CAST(TRY_CAST(replace(replace(b.AnnualIncome, '$$', ''), ',', '') AS DECIMAL(10,2)) AS DOUBLE) AS AnnualIncome,
       |  TRY_CAST(b.TotalChildren AS INTEGER) AS TotalChildren,
       |  b.EducationLevel, b.Occupation, b.HomeOwner,
       |  TRY_CAST(c.ProductKey AS INTEGER) AS ProductKey,
       |  TRY_CAST(d.ProductSubcategoryKey AS INTEGER) AS ProductSubcategoryKey,
       |  d.SubcategoryName,
       |  TRY_CAST(d.ProductCategoryKey AS INTEGER) AS ProductCategoryKey,
       |  e.CategoryName, c.ProductSKU, c.ProductName, c.ModelName,
       |  c.ProductDescription, c.ProductColor,
       |  TRY_CAST(c.ProductSize AS INTEGER) AS ProductSize,
       |  c.ProductStyle,
       |  CAST(TRY_CAST(c.ProductCost AS DECIMAL(10,2)) AS DOUBLE) AS ProductCost,
       |  CAST(TRY_CAST(c.ProductPrice AS DECIMAL(10,2)) AS DOUBLE) AS ProductPrice,
       |  CAST(try_strptime(f.ReturnDate, '%-m/%-d/%Y') AS DATE) AS ReturnDate,
       |  COALESCE(TRY_CAST(f.ReturnQuantity AS INTEGER), 0) AS ReturnQuantity
       |FROM all_sales a
       |LEFT JOIN "Customers" b ON a.CustomerKey = b.CustomerKey
       |LEFT JOIN "Products" c ON a.ProductKey = c.ProductKey
       |LEFT JOIN "Product_Subcategories" d ON c.ProductSubcategoryKey = d.ProductSubcategoryKey
       |LEFT JOIN "Product_Categories" e ON d.ProductCategoryKey = e.ProductCategoryKey
       |LEFT JOIN "Returns" f ON a.TerritoryKey = f.TerritoryKey AND c.ProductKey = f.ProductKey
       |)
       |SELECT * FROM info
       |ORDER BY OrderDate NULLS FIRST, CustomerKey NULLS FIRST,
       |         OrderLineItem NULLS FIRST, ProductKey NULLS FIRST,
       |         TerritoryKey NULLS FIRST, ReturnDate NULLS FIRST,
       |         ReturnQuantity NULLS FIRST,
       |         OrderQuantity NULLS FIRST, StockDate NULLS FIRST""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_curated",
      "the reference's literal 34-column curated QUERY over the committed AdventureWorks fixtures (variables.py:18-89)",
      curatedQuery, Some(curatedOracle)))
}
