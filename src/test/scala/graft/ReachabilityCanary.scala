package graft

/** Deliberately referenced by nothing: [[ReachabilitySpec]] adds this
  * class file to the main classes and expects the check to report it.
  */
object ReachabilityCanary {
  def loaderName: String = Tables.getClass.getName
}
