package vigil

import org.apache.spark.sql.DataFrame
import vigil.dedup.Dedup

/** Test-side view of `Dedup.connectedComponents`' `private[vigil]` driver
  * finish budget, for the specs in `graft`.
  */
object ComponentsBudget {

  /** `Dedup.connectedComponents`, finishing on the driver once at most
    * `driverEdges` edges remain; 0 runs the distributed rounds alone.
    */
  def connectedComponents(
      nodes: DataFrame, idCol: String, pairs: DataFrame, driverEdges: Int): DataFrame =
    Dedup.componentsWithin(nodes, idCol, pairs, driverEdges)
}
