package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Metadata tables (S6): `snapshots, files, partitions, history, refs,
  * manifests` as DataFrames derived from the table metadata JSON — the
  * same query surface as the reference's `SELECT * FROM tbl.snapshots`
  * (Berlin Buzzwords 2023.ipynb c12-c21, Getting Started.ipynb c29-c33,
  * WAP….ipynb c49). */
object MetadataTables {

  val kinds: Seq[String] =
    Seq("snapshots", "files", "partitions", "history", "refs", "manifests",
      "delete_files", "position_deletes", "all_files", "all_delete_files",
      "metadata_log_entries", "materialized_views", "indexes", "stats")

  def apply(table: LakeTable, kind: String): DataFrame = {
    val spark = table.spark
    import spark.implicits._
    val m = table.meta
    kind match {
      case "snapshots" =>
        m.snapshots.map { s =>
          (new java.sql.Timestamp(s.timestampMs), s.snapshotId, s.parentId,
            s.operation, s.summary, s.staged)
        }.toDF("committed_at", "snapshot_id", "parent_id", "operation", "summary", "staged")

      case "files" =>
        val files = m.currentSnapshot.map(_.files).getOrElse(Seq.empty)
        // surface stats keyed by *logical* column names of each file's schema
        files.map { f =>
          val schema = m.schemas.find(_.schemaId == f.schemaId).getOrElse(m.schema)
          def logical(phys: String): String =
            schema.columns.find(_.physicalName == phys).map(_.name).getOrElse(phys)
          (f.path, f.specId, f.partitionValues, f.rowCount, f.sizeBytes,
            f.stats.map { case (k, v) => logical(k) -> v.nullCount },
            f.stats.collect { case (k, ColStat(Some(mn), _, _)) => logical(k) -> mn },
            f.stats.collect { case (k, ColStat(_, Some(mx), _)) => logical(k) -> mx })
        }.toDF("file_path", "spec_id", "partition", "record_count",
          "file_size_in_bytes", "null_value_counts", "lower_bounds", "upper_bounds")

      case "partitions" =>
        val files = m.currentSnapshot.map(_.files).getOrElse(Seq.empty)
        files.groupBy(_.partitionValues).map { case (pv, fs) =>
          (pv, fs.map(_.rowCount).sum, fs.size.toLong)
        }.toSeq.toDF("partition", "record_count", "file_count")

      case "history" =>
        m.history.map { h =>
          (new java.sql.Timestamp(h.timestampMs), h.snapshotId, h.ref,
            // is_current_ancestor analog: still reachable as the ref target chain
            m.refs.get(h.ref).exists(_.snapshotId == h.snapshotId))
        }.toDF("made_current_at", "snapshot_id", "ref", "is_ref_current")

      case "refs" =>
        m.refs.toSeq.map { case (name, r) =>
          (name, r.kind.toUpperCase(java.util.Locale.ROOT), r.snapshotId) }
          .toDF("name", "type", "snapshot_id")

      case "manifests" =>
        // real manifest chunks (r9): one row per chunk of the CURRENT
        // snapshot (Iceberg's manifests table scope), with the snapshot
        // that first referenced it and how widely it is shared — the
        // observability for rewrite_manifests decisions
        val cur = m.currentSnapshot
        val fs = new org.apache.hadoop.fs.Path(table.location, "metadata")
          .getFileSystem(spark.sessionState.newHadoopConf())
        val metaDir = new org.apache.hadoop.fs.Path(table.location, "metadata")
        cur.map(_.manifests).getOrElse(Seq.empty).map { name =>
          val p = Manifests.chunkPath(metaDir, name)
          val files = Meta.chunkFromJson {
            val in = fs.open(p)
            try new String(in.readAllBytes(), "UTF-8") finally in.close()
          }
          val addedBy = m.snapshots.filter(_.manifests.contains(name))
            .map(_.snapshotId).minOption.getOrElse(-1L)
          val sharedBy = m.snapshots.count(_.manifests.contains(name)).toLong
          (p.toString, fs.getFileStatus(p).getLen, addedBy,
            files.size.toLong, files.map(_.rowCount).sum, sharedBy)
        }.toDF("path", "length", "added_snapshot_id",
          "existing_data_files_count", "existing_rows_count", "shared_by_snapshots")

      case "delete_files" =>
        // merge-on-read delete files of the CURRENT snapshot (Iceberg's
        // delete_files table; content mirrors its position/equality
        // distinction): the observability input for when to CALL
        // rewrite_position_deletes
        // dv_covered_files / dv_bytes: deletion-vector coverage per delete
        // file ([[DeleteVectors]]) — coverage < referenced_data_files
        // means some masked reads run the anti-join fallback (pre-DV
        // metadata or a skipped oversized build)
        val pos = m.currentSnapshot.map(_.deleteFiles).getOrElse(Seq.empty).map { d =>
          ("position", d.path, d.sizeBytes, d.rowCount,
            d.counts.size.toLong, d.counts, Seq.empty[String],
            d.vectors.size.toLong, d.vectors.values.map(_.len.toLong).sum)
        }
        val eq = m.currentSnapshot.map(_.eqDeleteFiles).getOrElse(Seq.empty).map { d =>
          ("equality", d.path, d.sizeBytes, d.rowCount,
            0L, Map.empty[String, Long],
            d.keyIds.flatMap(id => m.schema.byId(id)).map(_.name),
            0L, 0L)
        }
        (pos ++ eq).toDF("content", "file_path", "file_size_in_bytes",
          "record_count", "referenced_data_files", "position_delete_counts",
          "equality_key_columns", "dv_covered_files", "dv_bytes")

      case "all_files" =>
        // every data file referenced by ANY retained snapshot (Iceberg's
        // all_data_files): reclaimability / retention auditing — a file in
        // `all_files` but not `files` is held only by history
        m.snapshots.flatMap(s => s.files.map(f => (f, s.snapshotId)))
          .groupBy(_._1.path).map { case (_, refs) =>
            val f = refs.head._1
            (f.path, f.rowCount, f.sizeBytes, f.addedSnapshotId,
              refs.map(_._2).min, refs.size.toLong)
          }.toSeq.sortBy(_._1)
          .toDF("file_path", "record_count", "file_size_in_bytes",
            "added_snapshot_id", "first_snapshot_id", "referenced_by_snapshots")

      case "all_delete_files" =>
        // every delete file (positional or equality) referenced by any
        // retained snapshot
        val pos = m.snapshots.flatMap(s =>
          s.deleteFiles.map(d => (("position", d.path, d.sizeBytes, d.rowCount),
            s.snapshotId)))
        val eq = m.snapshots.flatMap(s =>
          s.eqDeleteFiles.map(d => (("equality", d.path, d.sizeBytes, d.rowCount),
            s.snapshotId)))
        (pos ++ eq).groupBy(_._1._2).map { case (_, refs) =>
          // liveness pruning shrinks a delete file's counts in LATER
          // snapshots — report the first (fullest) reference's stats
          val (content, path, size, rows) = refs.minBy(_._2)._1
          (content, path, size, rows, refs.map(_._2).min, refs.size.toLong)
        }.toSeq.sortBy(_._2)
          .toDF("content", "file_path", "file_size_in_bytes", "record_count",
            "first_snapshot_id", "referenced_by_snapshots")

      case "metadata_log_entries" =>
        // the root-document history itself (Iceberg's metadata_log_entries):
        // one row per committed metadata version — the audit trail of
        // COMMITS, where `snapshots` is the audit trail of table states
        table.metadataVersions.map { case (v, file, ts, snapId) =>
          (new java.sql.Timestamp(ts), file, v, snapId)
        }.toDF("timestamp", "file", "metadata_version", "latest_snapshot_id")

      case "position_deletes" =>
        // the CONTENT of the current snapshot's positional delete files
        // (Iceberg's position_deletes table): one row per deleted
        // (data file, position) — audit which rows a mask hides
        val dels = m.currentSnapshot.map(_.deleteFiles).getOrElse(Seq.empty)
        if (dels.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("file_name",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("pos",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("delete_file",
                org.apache.spark.sql.types.StringType))))
        else dels.map { d =>
          spark.read.schema(LakeTable.DeleteEntrySchema).parquet(d.path)
            .withColumn("delete_file", org.apache.spark.sql.functions.lit(d.path))
        }.reduce(_ unionByName _)

      case "materialized_views" =>
        // refresh-health listing of every view registered on THIS base
        // table (the graft.ivm.views routing index): spec, freshness
        // against the base head, and the failure record the streaming
        // auto-refresh loop maintains (refreshRegisteredViews) — the
        // operator signal that routing silently degraded to cold
        val head = m.currentSnapshot.map(_.snapshotId)
        Links.of(m.properties, MaterializedAgg.ViewsKey).map { loc =>
          try {
            val st = table.sibling(loc)
            val p = st.meta.properties
            val wm = MaterializedAgg.watermarkOf(st)
            (loc, st.meta.name, p.getOrElse("graft.ivm.group-by", null),
              p.getOrElse("graft.ivm.aggs", null), wm, head,
              wm.isDefined && wm == head,
              p.get(MaterializedAgg.FailuresKey).flatMap(_.toLongOption)
                .getOrElse(0L),
              p.getOrElse(MaterializedAgg.LastErrorKey, null),
              p.get(MaterializedAgg.LastErrorAtKey).flatMap(_.toLongOption)
                .map(t => new java.sql.Timestamp(t)).orNull)
          } catch { case scala.util.control.NonFatal(e) =>
            (loc, null, null, null, None: Option[Long], head, false, 0L,
              s"unreachable: ${e.getMessage}", null)
          }
        }.toDF("state_location", "view", "group_by", "aggs", "watermark",
            "base_snapshot", "fresh", "refresh_failures", "last_error",
            "last_error_at")

      case "indexes" =>
        // freshness listing of every secondary index registered on THIS
        // base table (the graft.vindex/tindex routing properties) — the
        // same operator signal materialized_views gives for MVs: an
        // index whose watermark trails the base head is serving stale
        // answers. Resolution goes through the base's metadata authority
        // (sibling), so a wire-mode base lists its wire indexes.
        val head = m.currentSnapshot.map(_.snapshotId)
        def indexRows(key: String, kind: String) =
          Links.of(m.properties, key).map { loc =>
            try {
              val st = table.sibling(loc)
              val (wm, detail) = kind match {
                case "vector" =>
                  val idx = graft.operators.VectorIndex.loadVia(table, loc)
                  val p = idx.state.meta.properties
                  // pin_fallback present ⇔ the centroid pin was lost to
                  // retention and probes serve the centroid-table head
                  // (recall may degrade inside a torn rebuild);
                  // imbalance = the metadata-only drift estimate;
                  // drift_* = the ingest loop's threshold-exceeded record
                  (idx.watermark,
                    Map("nlist" -> idx.centroids.size.toString,
                      "imbalance" -> f"${idx.imbalanceEstimate}%.2f") ++
                      (if (idx.pinFallback) Map("pin_fallback" -> "true")
                       else Map.empty) ++
                      p.get(graft.operators.VectorIndex.DriftImbalanceKey)
                        .map("drift_imbalance" -> _) ++
                      p.get(graft.operators.VectorIndex.DriftAtKey)
                        .map("drift_at" -> _))
                case _ =>
                  val idx = graft.operators.TextIndex.loadVia(table, loc)
                  val (n, tl) = idx.corpusStats
                  (idx.watermark,
                    Map("n_docs" -> n.toString, "total_len" -> tl.toString))
              }
              (loc, st.meta.name, kind, wm, head,
                wm.isDefined && wm == head, detail)
            } catch { case scala.util.control.NonFatal(e) =>
              (loc, null, kind, None: Option[Long], head, false,
                Map("error" -> e.getMessage))
            }
          }
        (indexRows(graft.operators.VectorIndex.IndexesKey, "vector") ++
          indexRows(graft.operators.TextIndex.IndexesKey, "text"))
          .toDF("state_location", "index", "kind", "watermark",
            "base_snapshot", "fresh", "detail")

      case "stats" =>
        // ANALYZE output ([[Analyze]]): one row per analyzed column, with
        // the snapshot the stats describe and a staleness flag against
        // the current head (stale stats stay queryable — the operator
        // signal for "re-run ANALYZE" — but the planner ignores them)
        val cur = m.currentSnapshot.map(_.snapshotId)
        val rows: Seq[(Long, Long, String, String, Option[Long], Long,
          Option[String], Option[String], Option[Long], Option[Long],
          Option[Double], Option[Double], Option[Double],
          Boolean, Boolean)] = Analyze.hydrated(table).map { ts =>
          ts.columns.map { c =>
            // quartiles off the persisted KLL sketch (numeric columns)
            val q = c.kll.map(b => graft.functions.KllQuantilesAgg.quantiles(
              java.util.Base64.getDecoder.decode(b), Array(0.25, 0.5, 0.75)))
              .filter(_.length == 3)
            (ts.snapshotId, ts.rowCount, c.name, c.dataType, c.ndv,
              c.nullCount, c.min, c.max, c.avgLen, c.maxLen,
              q.map(_(0)), q.map(_(1)), q.map(_(2)),
              ts.exactNdv, !cur.contains(ts.snapshotId))
          }
        }.getOrElse(Seq.empty)
        rows.toDF("snapshot_id", "row_count", "column", "data_type", "ndv",
            "null_count", "min", "max", "avg_len", "max_len",
            "p25", "p50", "p75", "exact_ndv", "stale")

      case other =>
        throw new IllegalArgumentException(
          s"unknown metadata table $other (expected one of ${kinds.mkString(", ")})")
    }
  }
}
