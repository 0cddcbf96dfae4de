package graft.perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDate
import java.util.SplittableRandom

import graft.operators.Standardize

/** Seeded OWID-shaped CSV and disease.sh-shaped JSON inputs, with the
  * answers the pipeline must give on them.
  *
  * The OWID side has one row per (country, day). It carries:
  *   - regular countries, some of them present on the OWID side only;
  *   - every raw name of `Standardize.CountryNameMapping`, whose API
  *     rows use the mapped name;
  *   - every `Standardize.ExcludeRegions` name with an `OWID_*` code,
  *     names that only `Standardize.ExcludePattern` removes, and one
  *     row set that only its `OWID_*` ISO code removes;
  *   - runs of nulls in the cumulative columns, some at the end of a
  *     series, so the latest total comes from the forward fill.
  * The API side adds countries that exist there only. Several API
  * snapshots share one OWID side; they differ in their case counts.
  *
  * `new_cases` and `new_deaths` are always columns of the declared
  * OWID schema, so `cleanOwid` never derives them with `lagDiff`.
  */
object Gen {

  final case class Country(raw: String, std: String, iso: String,
      onOwid: Boolean, onApi: Boolean)

  /** What a correct pipeline run reports on these inputs. */
  final case class Truth(
      matched: Int, candidates: Int, owidCountries: Int, apiCountries: Int,
      latestTotalCases: Map[String, Double], apiCases: Map[String, Long])

  final case class Inputs(owidDir: String, apiPaths: Seq[String],
      owidRows: Long, apiRows: Long, bytes: Long, truths: Seq[Truth])

  val Start: LocalDate = LocalDate.parse("2020-01-01")

  private val PatternOnly =
    Seq("High income group", "OECD members", "Customs Union bloc",
      "International waters")

  private def iso(i: Int): String = {
    val a = ('A' + i / 676 % 26).toChar
    val b = ('A' + i / 26 % 26).toChar
    val c = ('A' + i % 26).toChar
    s"$a$b$c"
  }

  def countries(n: Int): Seq[Country] = {
    val mapped = Standardize.CountryNameMapping.toSeq.sortBy(_._1)
    val regular = math.max(n - mapped.size, 4)
    val owidOnly = math.max(1, regular / 50)
    val apiOnly = math.max(1, regular / 50)
    (0 until regular).map { i =>
      val name = f"Country $i%05d"
      Country(name, name, iso(i), onOwid = true, onApi = i >= owidOnly)
    } ++ mapped.zipWithIndex.map { case ((raw, std), i) =>
      Country(raw, std, iso(regular + i), onOwid = true, onApi = true)
    } ++ (0 until apiOnly).map { i =>
      val name = f"Islet $i%04d"
      Country(name, name, iso(regular + mapped.size + i), onOwid = false,
        onApi = true)
    }
  }

  /** Writes the inputs under `dir` and returns their paths and truth. */
  def write(dir: File, seed: Long, nCountries: Int, days: Int, parts: Int,
      snapshots: Int): Inputs = {
    val rng = new SplittableRandom(seed)
    val cs = countries(nCountries)
    val owidDir = new File(dir, "owid")
    owidDir.mkdirs()
    val writers = (0 until parts).map { p =>
      val w = Files.newBufferedWriter(
        new File(owidDir, f"part-$p%03d.csv").toPath, StandardCharsets.UTF_8)
      w.write("iso_code,country,date,total_cases,new_cases,total_deaths," +
        "new_deaths,total_tests,positive_rate,tests_per_case," +
        "people_vaccinated,people_fully_vaccinated,total_vaccinations," +
        "population,new_tests\n")
      w
    }
    val dates = (0 until days).map(d => Start.plusDays(d).toString)
    var owidRows = 0L
    val latest = scala.collection.mutable.Map[String, Double]()
    val population = scala.collection.mutable.Map[String, Long]()
    def series(w: BufferedWriter, isoCode: String, name: String,
        r: SplittableRandom): Option[Double] = {
      val pop = 50000L + r.nextLong(300000000L)
      population(name) = pop
      var cases = 0.0
      var deaths = 0.0
      var tests = 0.0
      var last: Option[Double] = None
      // a third of the series have null runs; some end in one
      val gappy = r.nextInt(3) == 0
      val tail = if (gappy && r.nextBoolean()) 1 + r.nextInt(5) else 0
      var nullLeft = 0
      val sb = new java.lang.StringBuilder(160)
      dates.zipWithIndex.foreach { case (date, d) =>
        val newCases = r.nextInt(1 + (pop / 20000L).toInt).toDouble
        val newDeaths = (newCases / 50).floor
        cases += newCases
        deaths += newDeaths
        tests += newCases * 10
        if (gappy && nullLeft == 0 && r.nextInt(20) == 0)
          nullLeft = 1 + r.nextInt(8)
        val isNull = nullLeft > 0 || d >= days - tail
        if (nullLeft > 0) nullLeft -= 1
        if (!isNull) last = Some(cases)
        def opt(v: Double): String = if (isNull) "" else v.toLong.toString
        sb.setLength(0)
        sb.append(isoCode).append(',').append(name).append(',').append(date)
          .append(',').append(opt(cases))
          .append(',').append(newCases.toLong)
          .append(',').append(opt(deaths))
          .append(',').append(newDeaths.toLong)
          .append(',').append(opt(tests))
          .append(',').append(if (newCases > 0) "0.05" else "")
          .append(',').append("20.0")
          .append(',').append(opt(cases * 3))
          .append(',').append(opt(cases * 2))
          .append(',').append(opt(cases * 5))
          .append(',').append(pop)
          .append(',').append((newCases * 10).toLong)
          .append('\n')
        w.write(sb.toString)
      }
      owidRows += days
      last
    }
    cs.zipWithIndex.foreach { case (c, i) =>
      if (c.onOwid) {
        val r = rng.split()
        series(writers(i % parts), c.iso, c.raw, r) match {
          case Some(v) => latest(c.std) = v
          case None => ()
        }
      }
    }
    // rows every cleaning path must remove
    val dropped = Standardize.ExcludeRegions.zipWithIndex.map {
      case (n, i) => (f"OWID_X$i%02d", n)
    } ++ PatternOnly.map(n => ("ZZP", n)) :+ ("OWID_WRL", "Aggregate Zone")
    dropped.zipWithIndex.foreach { case ((code, n), i) =>
      series(writers(i % parts), code, n, rng.split())
    }
    writers.foreach(_.close())
    // every OWID-side series has a non-null value somewhere
    require(cs.filter(_.onOwid).forall(c => latest.contains(c.std)),
      "a generated series is all null")

    val apiCountries = cs.filter(_.onApi)
    val apiDropped = Seq("World", "Diamond Princess", "MS Zaandam",
      "International conveyance")
    val apiPaths = (0 until snapshots).map { s =>
      val r = new SplittableRandom(seed * 31 + s)
      val path = new File(dir, s"disease_sh_$s.json")
      val w = Files.newBufferedWriter(path.toPath, StandardCharsets.UTF_8)
      val cases = scala.collection.mutable.Map[String, Long]()
      w.write("[\n")
      val all = apiCountries.map(c => (c.std, c.iso, true)) ++
        apiDropped.map(n => (n, "", false))
      all.zipWithIndex.foreach { case ((name, isoCode, keep), i) =>
        val base = latest.getOrElse(name, 1000.0).toLong
        val c = base + r.nextLong(1 + base / 5) + s * 37L
        if (keep) cases(name) = c
        val d = c / 60
        val pop = population.getOrElse(name, 1000000L + r.nextLong(9000000L))
        if (i > 0) w.write(",\n")
        // `critical` is sometimes negative: cleanApi clips it to 0
        val critical = if (i % 17 == 0) -3L else d / 10
        w.write(
          s"""{"country":${Json.str(name)},"countryInfo":{"_id":$i,""" +
          s""""iso2":${Json.str(isoCode.take(2))},"iso3":${Json.str(isoCode)},""" +
          s""""lat":${(i % 180) - 90}.5,"long":${(i % 360) - 180}.25,""" +
          s""""flag":"https://flags.example/$i.png"},"population":$pop,""" +
          s""""cases":$c,"deaths":$d,"recovered":${c - d - 1},"active":1,""" +
          s""""critical":$critical,"casesPerOneMillion":${c * 1e6 / pop},""" +
          s""""deathsPerOneMillion":${d * 1e6 / pop},"tests":${c * 10},""" +
          s""""testsPerOneMillion":${c * 1e7 / pop},"todayCases":${s + 1},""" +
          s""""todayDeaths":0,"todayRecovered":1,""" +
          s""""updated":${1704067200000L + s * 3600000L}}""")
      }
      w.write("\n]\n")
      w.close()
      (path.getPath, cases.toMap)
    }
    val owidStd = cs.filter(_.onOwid).map(_.std).toSet
    val apiStd = apiCountries.map(_.std).toSet
    val both = owidStd.intersect(apiStd)
    val truths = apiPaths.map { case (_, cases) =>
      Truth(both.size, owidStd.union(apiStd).size, owidStd.size, apiStd.size,
        latest.view.filterKeys(both).toMap, cases.view.filterKeys(both).toMap)
    }
    def size(f: File): Long =
      if (f.isDirectory) f.listFiles().map(size).sum else f.length()
    Inputs(owidDir.getPath, apiPaths.map(_._1), owidRows,
      (apiCountries.size + apiDropped.size).toLong, size(dir), truths)
  }
}
