package graft.registry

import graft.Family
import org.apache.spark.sql.SparkSession
import graft.core.Q

/** The reference-parity pipeline registered as driver-gradable queries.
  * Each runs the full corpus → parse → merge → dedup pipeline on the
  * deterministic [[SyntheticCorpus]] and is checked against a
  * hand-computed VALUES oracle (the expected output of the reference's
  * own semantics on the same corpus), so the whole parse/merge/dedup/
  * search surface gets CORRECTNESS rows, not just unit tests. */
object RegistryQueries {

  private def tables(s: SparkSession): RegistryTables =
    Registry.load(s, SyntheticCorpus.ensure())

  val qs: Seq[Q] = Seq(

    // ---- S5+P2+P3+A1/A2+F7/F8: record split, 47-field extract,
    // first-non-blank merge, status + MedDRA SOC imputations.
    Q("q32_registry_trial",
      """SELECT * FROM (VALUES
        |  ('2004-000001-11', 'not ongoing', 'Study of Alpha Versus Placebo', 'abc-123', 'nct00000001',
        |   'severe asthma', 'soc', '10038738', '10038738', '120', '2004-02-01', '2010-05-01'),
        |  ('2005-000002-22', 'completed', 'Beta Trial of Gamma', NULL, NULL,
        |   'migraine', 'pt', '10027599', '10029205', '450', '2005-03-15', NULL),
        |  ('2006-000003-33', 'ongoing', 'Gamma Study of Delta', NULL, NULL,
        |   NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        |) AS t(eudract_id, overall_status, official_title, sponsor_id, nct_id, condition,
        |       meddra_level, meddra_classification, meddra_soc, enrollment,
        |       study_first_submitted_date, completion_date)
        |ORDER BY eudract_id""".stripMargin, Family.Registry) { (s, _) =>
      tables(s).trials.select("eudract_id", "overall_status", "official_title",
          "sponsor_id", "nct_id", "condition", "meddra_level", "meddra_classification",
          "meddra_soc", "enrollment", "study_first_submitted_date", "completion_date")
        .orderBy("eudract_id")
    },

    // ---- P4/A3+F6: yes-over-no flag merge, tri-state int typing,
    // junk flag values → null.
    Q("q33_registry_flags",
      """SELECT * FROM (VALUES
        |  ('2004-000001-11', 1, 0, 1, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), 1, 1, CAST(NULL AS INTEGER), 1, 1),
        |  ('2005-000002-22', CAST(NULL AS INTEGER), NULL, NULL, 1, NULL, NULL, NULL, NULL, NULL, NULL),
        |  ('2006-000003-33', CAST(NULL AS INTEGER), NULL, NULL, NULL, 0, NULL, NULL, NULL, NULL, NULL)
        |) AS t(eudract_id, placebo, phase1, phase2, phase3, rare, randomised,
        |       double_blind, open_design, female, male)
        |ORDER BY eudract_id""".stripMargin, Family.Registry) { (s, _) =>
      tables(s).trials.select("eudract_id", "placebo", "phase1", "phase2", "phase3",
          "rare", "randomised", "double_blind", "open_design", "female", "male")
        .orderBy("eudract_id")
    },

    // ---- A4: IMP union-find consolidation — transitive chain, shorter
    // non-empty name, blank-fill (reference scan.py:135-188).
    Q("q34_registry_imp",
      """SELECT * FROM (VALUES
        |  ('2004-000001-11', 1, 'alphamab', 'alphamab', 'ab-1'),
        |  ('2004-000001-11', 2, CAST(NULL AS VARCHAR), 'betazol', 'bz-9'),
        |  ('2006-000003-33', 1, 'gammax', 'gammaxol', 'gx-7')
        |) AS t(eudract_id, imp_seq, trade, product, code)
        |ORDER BY eudract_id, imp_seq""".stripMargin, Family.Registry) { (s, _) =>
      tables(s).imp.orderBy("eudract_id", "imp_seq")
    },

    // ---- A5/A8: sponsor title-cased exact dedup, first-occurrence
    // order, all-null row for sponsor-less trials (scan.py:243-248,273).
    Q("q35_registry_sponsor",
      """SELECT * FROM (VALUES
        |  ('2004-000001-11', 1, 'Acme Pharma', 'Acme Pharma Trials Unit', 'Clinical Ops', 'trials@acme.example.com'),
        |  ('2004-000001-11', 2, 'Acme Pharma', CAST(NULL AS VARCHAR), 'German Ops', CAST(NULL AS VARCHAR)),
        |  ('2005-000002-22', 1, CAST(NULL AS VARCHAR), NULL, NULL, NULL),
        |  ('2006-000003-33', 1, 'Gamma Bio', NULL, NULL, 'info@gamma.example.org')
        |) AS t(eudract_id, sponsor_seq, name, org, contact, email)
        |ORDER BY eudract_id, sponsor_seq""".stripMargin, Family.Registry) { (s, _) =>
      tables(s).sponsor.orderBy("eudract_id", "sponsor_seq")
    },

    // ---- A6/O2: location set union + sort, NCA + EEA block paths,
    // multi-word NCA no-match trap (SURVEY §7.4.3).
    Q("q36_registry_location",
      """SELECT * FROM (VALUES
        |  ('2004-000001-11', 'France'), ('2004-000001-11', 'Germany'),
        |  ('2004-000001-11', 'Japan'), ('2004-000001-11', 'United States'),
        |  ('2005-000002-22', 'Italy'),
        |  ('2006-000003-33', 'Switzerland')
        |) AS t(eudract_id, location)
        |ORDER BY eudract_id, location""".stripMargin, Family.Registry) { (s, _) =>
      tables(s).location.orderBy("eudract_id", "location")
    },

    // ---- S7/P6+J1/J2+A7+O1: user WHERE via expr(), child predicates
    // in-row over the merged frame (no join), export assembly with
    // condensed child strings (toexcel.py:14-161).
    Q("q37_registry_search_export",
      """SELECT * FROM (VALUES
        |  ('2004-000001-11', 'Study of Alpha Versus Placebo', '120',
        |   'product:alphamab; product:betazol',
        |   'France, Germany, Japan, United States', 'Acme Pharma')
        |) AS t(eudract_id, official_title, enrollment, imp_entry, location_entry, sponsor_entry)
        |ORDER BY eudract_id""".stripMargin, Family.Registry) { (s, _) =>
      Search.export(tables(s),
        Search.Query(
          trial = Some("overall_status <> 'completed'"),
          location = Some("location = 'Germany'")),
        Seq("official_title", "enrollment"))
    }
  )
}
